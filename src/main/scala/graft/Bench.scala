package graft
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftShim, Observation}
import org.apache.spark.sql.functions.{count, lit}
/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Per-query failures are recorded in an `errors`
  * map (and stderr) and EXCLUDED from `value` — a time-to-failure must
  * not enter the battery total. Each query also reports its output row
  * count (via `observe` on the same timed action, so counting costs one
  * scalar agg, not a re-execution): a silently-empty result can't bench
  * as "fast".
  *
  * Timing model: each query's reported time is `construct_s + exec_s`.
  * `construct_s` times the `fn()` call itself — for lazy plans that is
  * just analysis (~ms), but queries with EAGER construction-time work
  * (d12's connected-components pipeline runs localCheckpoint + its
  * union-find while BUILDING its result) do their real compute inside
  * `fn()`, and it must be charged. construct is min-of-2: fn() is
  * BUILT twice and the min taken (absorbs single-shot GC/JIT noise,
  * which measured ±1.5 s on the eager pipeline). CAVEAT — queries
  * that populate a SESSION-SCOPED trained-index cache (e10's cluster
  * index, the e15/e19/e20/e21 PQ models) train on build 1 and serve
  * from cache on build 2, so min-of-2 reports SERVING cost and the
  * one-off training cost would escape the artifact entirely. So the
  * per-query `train` field is the trained-index build seconds Sim's
  * caches accrue during build 1 (Sim.indexBuildSeconds; Registry's
  * table builds do not count). It is present exactly for queries
  * whose build 1 trained a model; builds that run concurrently inside
  * one construct (e18 trains four indexes in parallel branches) add
  * their durations, so `train` can exceed build 1's wall time. It and
  * `train_total` are reported SEPARATELY from `value` (and
  * additively as `value_with_train`), because the matched DuckDB
  * twin retrains inside every rep while a production index trains
  * once and serves many (see BENCH_NOTES
  * "serving vs training"). `exec_s` is the min of SPARK_GRAFT_REPS
  * (default 5) timed noop-sink materializations of the last build,
  * with EVERY rep's time in `exec_all` — the matched-pair protocol
  * runs the DuckDB twins at the SAME --runs, so both engines amortize
  * their per-query compile the same way (rep 1 pays Janino codegen
  * compilation, ~0.1 s/query; later reps are the steady state a
  * repeated production query sees), and the per-rep vectors let a
  * reader spot a single loaded rep instead of inferring VM load from
  * the min/max pair. A System.gc() before each query keeps one query's
  * garbage from billing the next. Both components are reported
  * per-query (`construct`/`exec`) so the split is auditable.
  *
  * Dispatch-floor adjudication: at bench SF the testdata parquet is one
  * row group per table, so scans are single-task and a stage WAVE costs
  * a near-constant harness floor (~0.06 s) regardless of data — a
  * multi-stage query over a sub-second twin can read >2x on dispatch
  * alone (BENCH_NOTES "per-query floor"; constant in data size, gone at
  * production SF). The artifact adjudicates this FORMALLY instead of in
  * prose: a listener counts each query's steady-state stage waves
  * (`stages`), the in-run per-wave floor is calibrated as
  * `floor_wave` = min over queries of exec/stages (the cheapest
  * observed wave — every query pays at least that much per stage), and
  * a query over 2x its twin whose floor-adjusted ratio
  * (construct + exec − stages×floor_wave)/twin is ≤ 2 moves from
  * `over2x` to `floor_adjudicated` with {stages, raw, adj} so the gate
  * reads the evidence, not a narrative claim. Raw ratios stay in
  * `ratios` untouched. The 0.2 s twin materiality floor has an
  * absolute-gap escape hatch: a >2x query whose spark−twin gap exceeds
  * 1 s enters the gate even when its twin is sub-floor (`gap_flagged`
  * carries the gap) — a tiny twin must not hide a multi-second
  * regression. Queries with a DISCLOSED twin class (`twin_class` —
  * the decode-vs-formula m-gates, whose twin recomputes a generator
  * formula instead of decoding real bytes) are excluded from
  * over2x/gap_flagged and routed to `class_flagged` with class + gap
  * when they would otherwise flag: the alarm channels stay engine
  * comparisons, and the exclusion is auditable in the artifact.
  *
  * Warm-up disclosure (`warmup`): after the construct builds, each
  * query gets ONE untimed noop materialization whose duration is
  * reported per-query in `warmup` (+ warmup_total/value_with_warmup).
  * Rationale: the first execution of a generated code path pays one-off
  * Janino + C2 JIT compilation that decays over ~10 materializations —
  * measured 5-9 s on the A7 window-percentile path, charged entirely to
  * whichever query exercises the path FIRST (q12 read 1.7 s min-of-5
  * while q34, the same subtree benched 22 queries later, read 0.28 s).
  * min-of-reps is defined above as the steady state a repeated
  * production query sees; the DuckDB twin's min-of-runs is steady from
  * run 1 (no JIT), so steady-vs-steady is the matched comparison and
  * the one-off cost stays auditable in the artifact instead of
  * arbitrarily inflating one query per code path.
  *
  * SQL-cache parity (`cache_reset`): a query whose plan registers a
  * Spark SQL cache entry (persist() — the engine analogue of a DuckDB
  * MATERIALIZED CTE) would otherwise serve reps 2+ from memory while
  * the twin re-materializes on every run. Detected queries (CacheManager
  * non-empty after the construct builds) get the cache CLEARED and the
  * frame rebuilt before every timed rep, so each rep pays exactly one
  * cache fill — the twin's per-run cost — and their names are disclosed
  * in `cache_reset`. Queries that don't persist keep the original
  * protocol byte-for-byte. The cache is also cleared between queries so
  * one query's persist can never serve another's plan.
  *
  * The JSON line is also written to BENCH_LAST.json: a log-capture
  * truncation on the driver side can never lose the number. A second,
  * COMPACT summary line (totals + ratios + every flag channel, no
  * per-query maps, <1.5 KB) is printed LAST so a bounded driver-side
  * tail capture can always parse the headline numbers — all 16 prior
  * rounds' PERF artifacts carried `parsed: null` because only the tail
  * of the ~6 KB full line survived the 2000-char capture.
  */
object Bench {
  /** Disclosed twin-comparison classes: queries whose DuckDB twin does
    * NOT do the same work, so their ratio is not an engine comparison —
    * m03/m04/m05 decode real PNG/WAV/container bytes while the twin
    * recomputes the generator formula (no codec in the oracle). Kept
    * OUT of over2x/gap_flagged and routed to `class_flagged` (see the
    * artifact scaladoc above). Object-level so VerifySpec can assert
    * every entry still names a registered query — a renamed/dropped
    * gate must not leave a stale exclusion behind. */
  val twinClasses: Map[String, String] = Map(
    "m03_image_phash" -> "decode-vs-formula",
    "m04_audio_fp" -> "decode-vs-formula",
    "m05_video_fp_dedup" -> "decode-vs-formula")

  /** Entries each flag list keeps in the compact line (the rest are
    * counted, and listed in full in the full line). */
  val FlagCap = 5

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** One flag list: `name` -> its first `cap` entries (a map stays a
    * map), `name_n` -> the full count. */
  private def flagList(name: String, entries: Iterable[Any], cap: Int): Seq[(String, Any)] =
    Seq(name -> entries.take(cap), s"${name}_n" -> entries.size)

  /** In-run per-wave dispatch floor: the cheapest observed stage wave —
    * every query pays AT LEAST this much per stage at bench SF, so
    * stages×floor_wave is a defensible lower bound on harness cost. */
  def floorWave(exec: collection.Map[String, Double], stages: collection.Map[String, Long]): Double = {
    val per = exec.toSeq.flatMap { case (k, e) => stages.get(k).filter(_ > 0).map(s => e / s) }
    if (per.nonEmpty) math.round(per.min * 10000.0) / 10000.0 else 0.0
  }

  /** The matched-engine gate of one run: totals against the twins
    * (`head`), per-query `ratios`, and the five flag lists. */
  final case class Gate(head: Seq[(String, Any)], ratios: Seq[(String, Double)],
      flags: Seq[(String, Iterable[Any])]) {
    /** Full-line fields: the ratios and every flag entry. */
    def full: Seq[(String, Any)] = head ++ Seq("ratios" -> ListMap(ratios: _*)) ++ capped(Int.MaxValue)
    /** Compact-line fields: each flag list capped at [[FlagCap]]. */
    def compact: Seq[(String, Any)] = head ++ capped(FlagCap)
    private def capped(cap: Int) = flags.flatMap { case (n, es) => flagList(n, es, cap) }
  }

  /** The gate over per-query `totals` (construct + exec, in bench order)
    * and the DuckDB twin seconds `duck`; None without twin timings.
    * Materiality floor: a ratio enters the gate when the twin itself
    * exceeds 0.2 s (below that it measures Spark's fixed per-query
    * dispatch, BENCH_NOTES "per-query floor"), or when the ABSOLUTE gap
    * spark−twin exceeds 1 s — a sub-floor twin must not hide a
    * multi-second Spark regression (q03 at sf1 read 4.18 s against a
    * 0.171 s twin for two rounds and never appeared in over2x);
    * gap-admitted rows are listed in `gap_flagged` with their gap.
    * Twin-classed rows that would flag go to `class_flagged`; the rest
    * go to `over2x` unless their floor-adjusted ratio
    * (construct + exec − stages×floor_wave)/twin is ≤ 2, which moves
    * them to `floor_adjudicated` with their evidence. */
  def gate(totals: Seq[(String, Double)], construct: collection.Map[String, Double],
      exec: collection.Map[String, Double], stages: collection.Map[String, Long],
      duck: Map[String, Double]): Option[Gate] = if (duck.isEmpty) None else {
    val ratios = totals.collect { case (k, v) if duck.get(k).exists(_ > 0) => k -> r2(v / duck(k)) }
    val totalOf = totals.toMap
    def gap(k: String) = totalOf(k) - duck(k)
    val (classed, candidates) = ratios
      .filter { case (k, r) => r > 2.0 && (duck(k) > 0.2 || gap(k) > 1.0) }
      .partition { case (k, _) => twinClasses.contains(k) }
    val fw = floorWave(exec, stages)
    val adjOf = candidates.map { case (k, r) =>
      (k, r, r2(math.max(0.0, construct(k) + exec(k) - stages.getOrElse(k, 0L) * fw) / duck(k)))
    }
    val duckTotal = totals.flatMap { case (k, _) => duck.get(k) }.sum
    // exec_ratio: plan quality alone — Spark execution time (construct,
    // i.e. Catalyst analysis, excluded) vs the twin total.
    def ofDuck(x: Double) = if (duckTotal > 0) r2(x / duckTotal) else -1.0
    Some(Gate(
      Seq("duck_total" -> duckTotal, "ratio_total" -> ofDuck(totals.map(_._2).sum),
        "exec_ratio" -> ofDuck(exec.values.sum)),
      ratios,
      Seq(
        "over2x" -> adjOf.collect { case (k, _, adj) if adj > 2.0 => k },
        "gap_flagged" -> ListMap(candidates.collect { case (k, _) if duck(k) <= 0.2 => k -> r2(gap(k)) }: _*),
        "class_flagged" -> ListMap(classed.map { case (k, r) =>
          k -> ListMap("class" -> twinClasses(k), "raw" -> r, "gap" -> r2(gap(k))) }: _*),
        "twin_class" -> ListMap(twinClasses.toSeq.filter { case (k, _) => ratios.exists(_._1 == k) }: _*),
        "floor_adjudicated" -> ListMap(adjOf.collect { case (k, r, adj) if adj <= 2.0 =>
          k -> ListMap("stages" -> stages.getOrElse(k, 0L), "raw" -> r, "adj" -> adj) }: _*))))
  }

  /** Per-query DuckDB seconds of a tools/duckbench.py artifact: its
    * `queries` object (the per-rep `queries_all` arrays are not read),
    * or the whole file when it is a flat {name: secs} map; empty when
    * the file is missing or unreadable. */
  def duckTimes(path: String): Map[String, Double] =
    try {
      val root = Json.mapper.readTree(new java.io.File(path))
      Option(root.get("queries")).getOrElse(root).properties().asScala
        .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap
    } catch { case _: Exception => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // steady-state stage-wave counter (the floor-adjudication input):
    // reset before the LAST exec rep, read after a listener-bus drain
    val stageCount = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stageCount.incrementAndGet(); ()
      }
    })
    // untimed warmup: pays one-off JIT/codegen/scan-index costs so the
    // first timed query isn't charged for them
    try SparkEntry.queries.headOption.foreach(_._2(spark, sfDir)
      .write.format("noop").mode("overwrite").save())
    catch { case _: Throwable => () }
    // timed materializations per query, min taken — MUST match the
    // DuckDB twin artifact's --runs (same-protocol matched pair)
    val execReps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val construct = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val exec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val execAll = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // one-off index-training seconds of queries whose build 1 trained a
    // session-cached index — reported, never silently dropped
    val train = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // one-off untimed warm materialization per query (JIT/codegen
    // warm-up; see the rep-loop comment) — reported, never dropped
    val warmup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Queries whose plan registers a Spark SQL cache entry (persist()):
    // their reps re-pay the cache fill (see below) and the set is
    // disclosed in the artifact — a cached frame must not let rep 2+
    // serve from memory while the DuckDB twin re-materializes its
    // MATERIALIZED CTEs on every run (ADVICE r16).
    val cacheReset = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try {
        // fn() INSIDE a timer of its own — eager construction-time work
        // (checkpointed iterative algorithms) is real query cost. Built
        // twice, min taken. Queries that train a session-scoped index
        // on build 1 serve from cache on build 2; build 1's training
        // seconds go to `train`, not the battery total (see scaladoc).
        System.gc()
        // per-query cache hygiene: one query's persist() must never be
        // readable by the next query's plan (q12/q34 share a byte-
        // identical percentile subplan — with a lingering entry the
        // second one benched would serve the first one's cache)
        spark.catalog.clearCache()
        var df: DataFrame = null
        val trainBefore = graft.queries.Sim.indexBuildSeconds
        val creps = (1 to 2).map { b =>
          val c0 = System.nanoTime()
          df = fn(spark, sfDir)
          if (b == 1) {
            val trainS = graft.queries.Sim.indexBuildSeconds - trainBefore
            if (trainS > 0) train(name) = math.round(trainS * 1000.0) / 1000.0
          }
          (System.nanoTime() - c0) / 1e9
        }
        construct(name) = creps.min
        // SQL-cache-populating detection (the CacheManager analogue of
        // the trained-index `train` channel): a query whose plan holds a
        // persist() serves reps 2+ from memory while its DuckDB twin
        // re-materializes per run — so for THESE queries each rep
        // clears the cache and rebuilds the frame, putting the cache
        // fill back inside every timed rep (exact MATERIALIZED-CTE
        // parity). Everything else keeps the original protocol
        // byte-for-byte.
        val usesSqlCache = GraftShim.sqlCacheNonEmpty(spark)
        if (usesSqlCache) cacheReset += name
        // One UNTIMED warm materialization before the timed reps, its
        // cost disclosed per-query in `warmup` (the train() pattern):
        // the first execution of a query's generated code pays one-off
        // Janino + C2 JIT compilation of paths no earlier query
        // exercised — measured 5-9 s decaying over ~10 materializations
        // on the A7 window-percentile path, while q34 (the SAME
        // subtree, benched later) rode the warmed code at 0.28 s. That
        // asymmetry charges a one-off session cost to whichever query
        // runs a path first; min-of-reps is meant to measure "the
        // steady state a repeated production query sees" (above), and
        // the DuckDB twin's min-of-runs is steady by run 1 (no JIT).
        // Nothing is hidden: warmup seconds ride the artifact per query
        // plus warmup_total/value_with_warmup aggregates.
        val w0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        warmup(name) = math.round((System.nanoTime() - w0) / 1e6) / 1e3
        // noop sink forces FULL evaluation of every output column —
        // count() alone would let Catalyst prune projection-only work and
        // under-report (a minhash query "benched" in 0.26s that actually
        // costs 1.3s to materialize).
        val times = (1 to execReps).map { r =>
          if (usesSqlCache) { // re-pay the cache fill inside the rep
            spark.catalog.clearCache()
            df = fn(spark, sfDir)
          }
          if (r == execReps) { // steady-state wave count: final rep only
            GraftShim.waitListenerBus(spark.sparkContext)
            stageCount.set(0)
          }
          val obs = Observation(s"$name-run$r")
          val t0 = System.nanoTime()
          df.observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          rows(name) = obs.get("rows").asInstanceOf[Number].longValue
          dt
        }
        GraftShim.waitListenerBus(spark.sparkContext)
        stages(name) = stageCount.get
        exec(name) = times.min
        execAll(name) = times.map(t => math.round(t * 1000.0) / 1000.0)
        Some(name -> (construct(name) + times.min))
      } catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        System.err.println(s"[bench] FAILED $name: ${errors(name)}")
        None
      }
    }
    val total = results.map(_._2).sum
    // Matched-engine ratios: if a committed DuckDB timing artifact exists
    // for this SF (written by tools/duckbench.py --runs N on the same
    // tables), emit per-query spark/duckdb ratios and the >2x tail so
    // "no query >2x its twin" is a checkable gate in the artifact itself,
    // not a narrative claim.
    val gated = gate(results, construct, exec, stages, duckTimes(sys.env.getOrElse(
      "SPARK_GRAFT_DUCK_TIMES", s"tools/duck_times_${new java.io.File(sfDir).getName}.json")))
    // floor_est: the per-query harness constant the battery pays n times —
    // calibrated IN-RUN as the minimum warm exec across queries (the
    // lightest query's noop-sink job dispatch + single-task scan, which
    // does no material work at bench SF) times the query count. This is
    // the number BENCH_NOTES' floor adjudication previously carried in
    // prose; in the artifact it lets a reader subtract measurement
    // constant from plan quality without re-deriving it.
    val floorEst = if (exec.nonEmpty)
      math.round(exec.values.min * exec.size * 100.0) / 100.0 else 0.0
    val trainTotal = math.round(train.values.sum * 1000.0) / 1000.0
    val warmupTotal = math.round(warmup.values.sum * 1000.0) / 1000.0
    val summary = Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
      "construct_total" -> construct.values.sum, "exec_total" -> exec.values.sum,
      "train_total" -> trainTotal,
      "value_with_train" -> math.round((total + trainTotal) * 1000.0) / 1000.0,
      "warmup_total" -> warmupTotal,
      "value_with_warmup" -> math.round((total + warmupTotal) * 1000.0) / 1000.0,
      "exec_reps" -> execReps, "floor_est" -> floorEst, "floor_wave" -> floorWave(exec, stages))
    val line = Json.write(ListMap(summary ++ flagList("cache_reset", cacheReset, Int.MaxValue) ++
      Seq("queries" -> ListMap(results: _*), "construct" -> construct, "exec" -> exec,
        "exec_all" -> execAll, "warmup" -> warmup, "stages" -> stages, "train" -> train,
        "rows" -> rows, "errors" -> errors) ++
      gated.toSeq.flatMap(_.full) :+ ("sf" -> sfDir): _*))
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] could not write BENCH_LAST.json: $e") }
    // Compact summary — the LAST stdout line, sized to survive a
    // driver-side tail capture (~2000 chars) that decapitates the full
    // ~6 KB line above: totals, ratios and every flag channel, but no
    // per-query maps (those live in the full line and $outPath). All 16
    // prior rounds' PERF artifacts carried `parsed: null` because only
    // the tail of the full line survived; this line is the parseable
    // record. Each flag list is capped at its first FlagCap entries plus
    // a `<name>_n` count, so an unhealthy run cannot overflow the tail.
    println(Json.write(ListMap(summary ++
      Seq("n_queries" -> results.size, "n_errors" -> errors.size) ++
      flagList("cache_reset", cacheReset, FlagCap) ++ gated.toSeq.flatMap(_.compact) ++
      Seq("sf" -> sfDir, "compact" -> true, "full" -> outPath): _*)))
    spark.stop()
  }
}
