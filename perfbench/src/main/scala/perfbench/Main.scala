package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one JVM, `local[4]`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   [--spans <file>]
  * }}}
  *
  * Generates the inputs, sets up five times (session build + ingest;
  * the median is `setup_s`), then runs passes until `--seconds` of pass
  * time is spent. The first pass after set-up is `cold_run_s`: what a
  * one-shot batch user pays. Every pass writes into a fresh directory
  * and is checked against the expected answers; when a run makes more
  * than one pass, every pass's output digest must equal the first's.
  * With `--trace 1` the run makes a cold and a warm untraced pass and
  * then a traced one, which gives the per-layer metrics; the traced
  * pass against the warm one is the tracing overhead; `--spans` names
  * the JSON-lines file the traced spans are written to at the end. The
  * last stdout line is the result JSON.
  */
object Main {

  val Cores = 4
  /** Set-ups per run; a traced run, which makes three passes, does
    * fewer to stay well inside the per-run time limit. */
  val SetupReps = 5
  val TracedSetupReps = 3

  /** Per-layer ops; every one reports `.s` and `.core_util`. */
  val opNames: Seq[String] = Seq("source.ingest", "cohort.extract") ++
    Seq("diag", "chart", "med", "out", "proc", "clean", "summary", "select").map("features." + _) ++
    Seq("med", "chart", "proc", "out", "cond", "dynamic").map("datagen." + _) ++
    Seq("sinks.per_stay", "sinks.vocab") ++
    Seq("00_report", "00_stoplist", "01_gated", "02_exact", "03_clean", "04_corpus",
      "04a_spans", "04b_selected", "05_chunks", "06_pack", "07_order", "08_bpe")
      .map("curation." + _)

  /** Ops that also report rows, shuffle and spill. */
  val workOps: Seq[String] = Seq("features.chart", "features.clean", "datagen.chart",
    "datagen.med", "datagen.dynamic", "sinks.per_stay", "cohort.extract",
    "curation.01_gated", "curation.04_corpus", "curation.04a_spans")

  /** Every per-layer metric name with its unit, in output order. */
  val perLayer: Seq[(String, String)] =
    opNames.flatMap(o => Seq(s"$o.s" -> "s", s"$o.core_util" -> "ratio")) ++
      workOps.flatMap(o => Seq(s"$o.rows_out" -> "count", s"$o.shuffle_write_mb" -> "MB",
        s"$o.spill_mb" -> "MB")) ++
      Seq("sinks.per_stay.files" -> "count", "spark.jobs" -> "count",
        "spark.tasks" -> "count", "jvm.gc_s" -> "s", "jvm.peak_rss_mb" -> "MB",
        "jit.warmup_s" -> "s",
        "trace.overhead_frac" -> "ratio", "trace.span_coverage" -> "ratio")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * Cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work")).getCanonicalPath
    val in = s"$work/input"
    new File(in).mkdirs()
    val result = run(w, seed, seconds, trace, work, in, opt.get("spans"))
    println(result)
  }

  /** Per-pass facts. */
  final case class PassStats(seconds: Double, cpuSeconds: Double, bytes: Long, files: Long)

  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, work: String,
      in: String, spansOut: Option[String] = None): String = {
    val tracer = new Tracer(enabled = trace)
    val collector = new Collector
    val ops = new Ops(tracer)
    var spark: SparkSession = null
    val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def msToNs(ms: Long): Long = ms * 1000000L - offsetNs

    def listen(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(collector)
        spark.listenerManager.register(collector)
      } else {
        spark.sparkContext.removeSparkListener(collector)
        spark.listenerManager.unregister(collector)
      }

    // inputs first: data generation is not set-up time
    w.prepare({ if (spark == null) spark = session(work); spark }, in, seed)

    // every traced span with its self time, written when the run ends
    val recorded = ArrayBuffer.empty[(Span, Long)]

    // per-layer samples: metric -> one value per traced pass (or set-up)
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit = layer.getOrElseUpdate(k, ArrayBuffer.empty) += v

    /** Turns the spans and listener counters of one traced interval into
      * per-op samples; returns the span coverage of the root. */
    def collect(passDir: Option[String]): Double = {
      PerfbenchBus.drain(spark.sparkContext)
      val spans = tracer.drain()
      val byId = spans.map(s => s.id -> s).toMap
      // child spans: one per SQL execution whose directory maps to an
      // op. An execution without such a directory belongs to the next one
      // that has it (it computes what that one writes, as the curation
      // dedup does before its stage write), and each child also takes the
      // planning time since the previous execution, so children tile their
      // parent up to its last execution.
      val execParent: Map[Long, Int] = collector.jobExec.toSeq.flatMap { case (job, ex) =>
        collector.jobSpan.get(job).map(ex -> _)
      }.toMap
      def rel(key: String): Option[String] =
        passDir.filter(p => key.startsWith(p + "/")).map(p => key.stripPrefix(p + "/"))
      val keyed: Map[Long, String] = collector.execKeys.toSeq.flatMap { case (ex, key) =>
        rel(key).flatMap(w.childOp).map(ex -> _)
      }.toMap
      val timed = execParent.toSeq.filter { case (ex, _) =>
        collector.execStartMs.contains(ex) && collector.execEndMs.contains(ex)
      }
      val execOp = scala.collection.mutable.Map.empty[Long, String]
      val children = timed.groupBy(_._2).toSeq.flatMap { case (pid, exs) =>
        byId.get(pid).toSeq.flatMap { p =>
          val sorted = exs.map(_._1).sortBy(collector.execStartMs)
          val ops = sorted.scanRight(Option.empty[String])((ex, next) =>
            keyed.get(ex).orElse(next)).init
          var prevEnd = p.start
          sorted.zip(ops).flatMap { case (ex, op) =>
            val end = math.max(prevEnd, math.min(p.end, msToNs(collector.execEndMs(ex))))
            val child = op.map { o =>
              execOp(ex) = o
              Span(tracer.newId(), o, p.id, tracer.run, prevEnd, end)
            }
            prevEnd = end
            child
          }
        }
      }
      val all = spans ++ children
      val wall = all.groupMapReduce(_.name)(_.dur.toDouble / 1e9)(_ + _)
      val work = collector.aggByOp { job =>
        collector.jobExec.get(job).flatMap(execOp.get)
          .orElse(collector.jobSpan.get(job).flatMap(byId.get).map(_.name))
      }
      opNames.filter(o => wall.contains(o) || work.contains(o)).foreach { o =>
        val s = wall.getOrElse(o, 0.0)
        val a = work.getOrElse(o, StageAgg.zero)
        sample(s"$o.s", s)
        sample(s"$o.core_util", if (s > 0) a.runMs / 1000.0 / (s * Cores) else 0.0)
        if (workOps.contains(o)) {
          sample(s"$o.rows_out", a.recordsWritten.toDouble)
          sample(s"$o.shuffle_write_mb", a.shuffleWrite / 1e6)
          sample(s"$o.spill_mb", a.spill / 1e6)
        }
      }
      val self = Span.selfTimes(all)
      recorded ++= all.map(s => (s, self(s.id)))
      val roots = all.filter(_.parent == -1)
      val covered = all.filter(_.parent != -1).map(s => self(s.id)).sum.toDouble
      val cov = covered / roots.map(_.dur).sum.max(1L)
      collector.reset()
      cov
    }

    // set-up: session build + ingest; the first before the passes, the
    // others after them, when background compilation has settled
    def setupOnce(i: Int): Double = {
      if (spark != null) spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      tracer.run = s"setup-$i"
      val t0 = System.nanoTime()
      tracer.span("setup") {
        spark = session(work)
        tracer.attach(spark.sparkContext)
        if (trace) listen(on = true)
        w.setup(spark, ops, in)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (trace) { collect(None); listen(on = false) }
      dt
    }
    val setupTimes = ArrayBuffer(setupOnce(0))

    val passes = ArrayBuffer.empty[PassStats]
    val traced = ArrayBuffer.empty[Double]
    val outs = ArrayBuffer.empty[String]

    def onePass(i: Int, traceThis: Boolean): Unit = {
      val out = s"$work/out/p$i"
      tracer.run = s"pass-$i"
      if (traceThis) listen(on = true)
      val gc0 = gcMs()
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      tracer.span("pass")(w.pass(spark, ops, in, out))
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      if (traceThis) {
        sample("spark.jobs", collector.jobs.toDouble)
        sample("spark.tasks", collector.tasks.toDouble)
        sample("jvm.gc_s", (gcMs() - gc0) / 1000.0)
        sample("trace.span_coverage", collect(Some(out)))
        listen(on = false)
        sample("sinks.per_stay.files", Digest.partFiles(s"$out/ts/per_stay_chart").toDouble)
        traced += dt
      } else {
        tracer.drain()
        val (bytes, files) = Digest.size(out)
        passes += PassStats(dt, cpu, bytes, files)
      }
      w.check(spark, ops, out)
      outs += out
    }

    // untraced: passes until `seconds` of pass time is spent; traced:
    // a cold and a warm untraced pass, then a traced one
    var failedPass = false
    try {
      var spent = 0.0
      var i = 0
      while (spent < seconds || (trace && i < 3)) {
        onePass(i, traceThis = trace && i >= 2 && i % 2 == 0)
        spent = passes.map(_.seconds).sum + traced.sum
        i += 1
      }
      // every rep's outputs must hash the same as the first rep's
      val digests = outs.map(o => Digest.tree(spark, o))
      digests.zipWithIndex.drop(1).foreach { case (d, i) =>
        ops.check(s"pass $i output digest equals pass 0")(d == digests.head)
      }
      (1 until (if (trace) TracedSetupReps else SetupReps))
        .foreach(i => setupTimes += setupOnce(i))
    } catch {
      case e: Exception =>
        System.err.println(s"pass failed: $e")
        e.printStackTrace()
        failedPass = true
    }
    spark.stop()
    spansOut.foreach(p => java.nio.file.Files.write(java.nio.file.Paths.get(p),
      recorded.map { case (s, self) =>
        s"""{"run": "${s.run}", "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
          s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_ns": $self}"""
      }.mkString("", "\n", "\n").getBytes))
    if (passes.isEmpty) throw new IllegalStateException("no pass completed")

    val cold = passes.head.seconds
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("cold_run_s", cold, "s"),
        ("cold_run_cpu_s", passes.head.cpuSeconds, "s"),
        ("input_rows_per_s", w.inputRows / cold, "rows/s"),
        ("setup_s", median(setupTimes.toSeq), "s"),
        ("output_mb", median(passes.map(_.bytes / 1e6).toSeq), "MB"),
        ("output_files", median(passes.map(_.files.toDouble).toSeq), "count"))
      else {
        val warm = median(passes.drop(1).map(_.seconds).toSeq)
        sample("jit.warmup_s", cold - warm)
        sample("trace.overhead_frac", median(traced.toSeq) / warm - 1)
        sample("jvm.peak_rss_mb", peakRssMb())
        perLayer.map { case (k, unit) =>
          (k, layer.get(k).map(v => median(v.toSeq)).getOrElse(0.0), unit)
        }
      }
    System.err.println(f"passes: ${passes.map(p => f"${p.seconds}%.2f").mkString(" ")} untraced, " +
      f"${traced.map(t => f"$t%.2f").mkString(" ")} traced; " +
      f"set-ups ${setupTimes.map(t => f"$t%.2f").mkString(" ")}")
    Json.result(!failedPass && ops.failed == 0, ops.attempted, ops.failed, metrics)
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$m}}"""
  }
}
