package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}

/** Dev tools over the query battery, on the [[LocalSession]] Bench times.
  * With no query names, `profile` and `plan` cover the whole battery.
  *
  * {{{
  * sbt "runMain graft.Dev profile <sfDir> <reps> [query...]"
  * sbt "runMain graft.Dev plan <sfDir> [query...]"
  * sbt "runMain graft.Dev exec-plan <sfDir> query..."
  * sbt "runMain graft.Dev exec-plan <sfDir> --assert-reuse <query> <col>"
  * }}}
  *
  *   - `profile`: per-query dispatch profile — construct seconds, a
  *     fresh-optimize probe (`plan`), the untimed warm-up rep (`warm`,
  *     the cold rep that pays codegen), jobs / stages / tasks counted by
  *     a SparkListener across the first timed rep, and every timed rep.
  *     At bench SF a stage wave costs a near-constant dispatch floor, so
  *     `stages × floor` predicts the warm exec time of a tiny-data
  *     query; a query above that prediction has real cost worth
  *     attacking.
  *   - `plan`: the formatted physical plan — check that filters reach
  *     the parquet scan (PushedFilters), small sides broadcast, and
  *     whole-stage codegen spans are wide. AQE hides runtime stage
  *     reuse here.
  *   - `exec-plan`: materialize, then print the FINAL adaptive plan —
  *     the only place runtime `ReusedExchange` is visible.
  *     `--assert-reuse` exits 1 unless some reused-exchange payload of
  *     the query's executed plan contains column `col`: a CI-callable
  *     guard against the float-through trap (a "shared" computed stage
  *     whose projection silently migrated above the exchange, making
  *     every consumer recompute it; see BENCH_NOTES and the round-9 d20
  *     incident).
  *
  * Exit codes: 0 done, 1 assertion failed, 2 bad usage or unknown query.
  */
object Dev {
  private val usage =
    """usage: Dev profile <sfDir> <reps> [query...]
      |       Dev plan <sfDir> [query...]
      |       Dev exec-plan <sfDir> query...
      |       Dev exec-plan <sfDir> --assert-reuse <query> <col>""".stripMargin

  private type Query = (String, (SparkSession, String) => DataFrame)

  def main(args: Array[String]): Unit = sys.exit(run(LocalSession(), args))

  def run(spark: SparkSession, args: Array[String]): Int = args.toList match {
    case "profile" :: sfDir :: reps :: names if reps.toIntOption.exists(_ > 0) =>
      withQueries(names) { qs => profile(spark, sfDir, reps.toInt, qs); 0 }
    case "plan" :: sfDir :: names =>
      withQueries(names) { qs =>
        qs.foreach { case (name, fn) =>
          println(s"\n########## $name ##########")
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Exception => println(s"EXPLAIN FAILED: ${e.getMessage}") }
        }
        0
      }
    case "exec-plan" :: sfDir :: "--assert-reuse" :: name :: col :: Nil =>
      withQueries(Seq(name)) { qs =>
        val df = qs.head._2(spark, sfDir)
        materialize(df)
        val payloads = PlanInspect.reused(df).map(_.output.map(_.name))
        val ok = payloads.exists(_.contains(col))
        println(s"$name reused-exchange payloads: ${payloads.mkString("; ")}")
        println(s"assert-reuse $col: ${if (ok) "OK" else "ABSENT"}")
        if (ok) 0 else 1
      }
    case "exec-plan" :: sfDir :: names if names.nonEmpty && !names.contains("--assert-reuse") =>
      withQueries(names) { qs =>
        qs.foreach { case (name, fn) =>
          println(s"\n########## $name ##########")
          val df = fn(spark, sfDir)
          println(s"rows=${materialize(df)}")
          println(df.queryExecution.executedPlan.toString)
        }
        0
      }
    case _ =>
      Console.err.println(usage)
      2
  }

  /** Runs `f` on the named queries (the whole battery, sorted, when
    * none are named); 2 with the valid names if any name is unknown. */
  private def withQueries(names: Seq[String])(f: Seq[Query] => Int): Int = {
    val all = SparkEntry.queries
    names.filterNot(all.contains) match {
      case Seq() => f(if (names.isEmpty) all.toSeq.sortBy(_._1) else names.map(n => n -> all(n)))
      case unknown =>
        Console.err.println(s"unknown query ${unknown.mkString(", ")}; valid: " +
          all.keys.toSeq.sorted.mkString(", "))
        2
    }
  }

  /** Materialize through THIS df's QueryExecution (a write would spawn a
    * separate one and the printed plan would say isFinalPlan=false), but
    * WITHOUT collecting rows into this JVM — row-heavy queries would OOM
    * it. Counting the executed plan's RDD keeps every row on
    * the executors. */
  private def materialize(df: DataFrame): Long =
    df.queryExecution.executedPlan.execute().count()

  private def profile(spark: SparkSession, sfDir: String, reps: Int, qs: Seq[Query]): Unit = {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    def secs(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    sc.addSparkListener(listener)
    try {
      println(f"${"query"}%-26s constr   plan   warm  jobs stages tasks  reps(s)")
      qs.foreach { case (name, fn) =>
        val c0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val cs = (System.nanoTime() - c0) / 1e9
        // fresh-optimize probe: how much planning time does EVERY action
        // pay re-running the optimizer + physical planner on this tree?
        val ps = secs(df.select("*").queryExecution.executedPlan)
        val ws = secs(noop(df))
        GraftShim.waitListenerBus(sc)
        jobs.set(0); stages.set(0); tasks.set(0)
        val first = secs(noop(df))
        GraftShim.waitListenerBus(sc)
        val (j, st, tk) = (jobs.get, stages.get, tasks.get)
        val ts = first +: (2 to reps).map(_ => secs(noop(df)))
        println(f"$name%-26s $cs%6.3f $ps%6.3f $ws%6.3f  $j%4d $st%5d $tk%5d  " +
          ts.map(t => f"$t%.3f").mkString(" "))
      }
    } finally sc.removeSparkListener(listener)
  }
}
