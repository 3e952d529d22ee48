package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built: Bench, Verify,
  * ScaleCheck, WalkthroughMain and Dev all run on the same settings, so
  * per-query numbers taken by one main compare with another's.
  *
  * Environment (all optional):
  *   - SPARK_GRAFT_CPUS: local cores (default 4).
  *   - SPARK_GRAFT_SHUFFLE: shuffle partitions (default 8).
  *   - SPARK_GRAFT_CONF: extra confs, semicolon-separated k=v, applied
  *     last so they win, e.g.
  *     `SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false;..."`.
  *     Entries without `=` are ignored.
  */
object LocalSession {

  /** The session conf for `env`, in application order (a later entry
    * for the same key wins). */
  def conf(env: Map[String, String]): Seq[(String, String)] = {
    val base = Seq(
      "spark.master" -> s"local[${env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
      // Shuffle partitions pinned per scale factor (SURVEY 4.2): at the
      // bench SFs every shuffle is a few MB, so fewer reducers cut task
      // dispatch overhead; AQE coalescing handles the rest.
      "spark.sql.shuffle.partitions" -> env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    // BENCH-SF AQE floor — ONLY for the pinned-width default protocol
    // (no SPARK_GRAFT_SHUFFLE set, i.e. the sf0.1 gate pair): there the
    // testdata parquet is one row group per table, so every scan is one
    // task and all width comes from exchanges — but at MB-scale shuffles
    // AQE's default coalescing (1 MB min / parallelismFirst) collapses
    // every post-exchange stage back to ONE task, serializing the
    // compute the exchanges exist to spread (measured: jobs==stages==
    // tasks across the battery). Lowering the coalesce floor restores
    // intra-stage parallelism at bench SF. When the protocol sets an
    // explicit width (the sf1/sf10 runs on multi-file fixtures), scans
    // provide width and post-shuffle frames deserve PRODUCTION
    // coalescing — keeping the tiny floor there measured +9 s on the
    // sf1 battery (q31 1.24→0.63 s, q03 2.03→0.71 s at defaults, r16
    // matched batteries). These values are SF-TUNED, not engine
    // guidance.
    val benchFloor =
      if (env.contains("SPARK_GRAFT_SHUFFLE")) Nil
      else Seq(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m")
    val extra = env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    base ++ benchFloor ++ extra
  }

  def apply(): SparkSession = {
    val spark = conf(sys.env)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
