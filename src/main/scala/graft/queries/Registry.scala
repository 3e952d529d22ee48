package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query: a Spark DataFrame program plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB as the oracle.
  * Column names/aliases MUST match between the two — the driver sorts
  * columns by name and hash-compares values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String],
    doc: String = "")

object Registry {
  /** `spark.read.parquet` on one of the driver-generated tables.
    *
    * `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS), which
    * Spark's vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL)
    * — even when `ts` is pruned away. We read nanos as a raw long
    * (legacy.parquet.nanosAsLong) and convert to a microsecond
    * TIMESTAMP with exact integer math (`div`, no double round-trip —
    * ns-since-epoch ≈ 1.7e18 overflows a double's 53-bit mantissa).
    * DuckDB reads the same column as TIMESTAMP_NS and truncates to µs
    * on cast, so both engines agree.
    */
  // Session-scoped catalog: resolving a table (file listing + footer
  // schema read + relation analysis) costs tens of ms per spark.read —
  // re-paying it on every query construction is what a catalog exists
  // to avoid. DataFrames are immutable, so reuse across queries is safe
  // AS LONG AS the underlying files are not rewritten: the cached plan
  // pins its file-listing snapshot. Callers that rewrite parquet under
  // a cached dir mid-session must call `invalidate(dir)` (or
  // `invalidate()` for everything).
  private val tableCache = new graft.SessionCache[(String, String), DataFrame](_ => ())

  /** Drop every cached table under `dir` (all sessions). Call after
    * rewriting the parquet files in that directory. */
  def invalidate(dir: String): Unit = tableCache.invalidate(_._1 == dir)

  /** Drop the whole catalog cache. */
  def invalidate(): Unit = tableCache.clear()

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    tableCache.getOrBuild(s, (dir, name))(tUncached(s, dir, name))

  private def tUncached(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = s.read.parquet(s"$dir/$name.parquet")
      // Robust to the actual physical type: NANOS reads as long under the
      // flag (convert with exact integer math); micro/milli files read as
      // a timestamp type directly (normalize NTZ → TIMESTAMP under the
      // pinned UTC session zone).
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case _ =>
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      }
    } else s.read.parquet(s"$dir/$name.parquet")

  lazy val all: Seq[Q] =
    Relational.qs ++ Temporal.qs ++ Docs.qs ++ Sim.qs

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.sql.map(q.name -> _)).toMap
}

/** Bounded-iteration connected-components ORACLE fragment — the
  * DuckDB twin of [[graft.operators.ConnectedComponents.components]].
  *
  * The previous twin computed the full transitive closure with a
  * recursive CTE (`reach(u,v)` = every reachable pair): exact, but the
  * pair set is O(Σ component²) — at sf10 DuckDB ran past the 1800 s
  * oracle cap on d12/e10, leaving those rows to independent ScaleCheck
  * verdicts. This fragment instead UNROLLS the exact per-round update
  * rule the Spark operator runs — min-label propagation fused with
  * pointer jumping:
  *
  *   l0(u)   = min({u} ∪ N(u))
  *   s_k(u)  = min(l_{k-1}(u), min over v∈N(u) of l_{k-1}(v))
  *   l_k(u)  = s_k(s_k(u))              -- rep := rep's rep
  *
  * to a fixed number of CTE levels. Each level is two hash joins and
  * one aggregation over (n labels + m edges) rows — LINEAR per level,
  * never the closure's quadratic pair materialization. Because both
  * engines run the SAME deterministic update rule from the same l0,
  * DuckDB's labels after K levels equal Spark's labels after K rounds;
  * Spark iterates to a fixpoint (observed convergence counter), so any
  * K ≥ Spark's converged round count yields the identical component
  * minima — and extra levels past convergence are no-ops on the values.
  * Pointer jumping halves label-chain depth per round, so K levels
  * cover component diameters ~2^K: the default 10 is an order of
  * magnitude above any measured LSH/semantic dedup graph (sf10
  * converges in ≤5 rounds; a probe is in tools/ScaleCheck) while
  * costing DuckDB milliseconds at oracle SF. An under-unrolled K can
  * never pass silently: labels would differ from Spark's converged
  * output and the hash gate goes red.
  *
  * Every CTE is `AS MATERIALIZED`: each level references the previous
  * one twice (and `edges` once more), so left to DuckDB's default
  * CTE inlining the plan re-expands the whole upstream chain per
  * reference — exponential in the level count (measured: sf0.01 d12
  * died on file-handle exhaustion from thousands of re-opened parquet
  * scans before any row was produced). Materialization restores the
  * linear-per-level cost the unrolling exists for; callers must mark
  * their `edges` CTE MATERIALIZED for the same reason.
  */
private[queries] object CcSql {
  /** CTE chain `l0 .. l<levels>` over an `edges(u, v)` CTE that is
    * already SYMMETRIZED (both directions present). Returns the SQL to
    * splice after `edges` plus the final label-CTE name; the caller
    * writes the outer SELECT (left-join back to the full id universe).
    */
  def unrolled(levels: Int = 10): (String, String) = {
    val l0 = "l0 AS MATERIALIZED (SELECT u AS id, LEAST(u, MIN(v)) AS rep FROM edges GROUP BY u)"
    val rounds = (1 to levels).map { k =>
      s"""n$k AS MATERIALIZED (SELECT e.u AS id, MIN(l.rep) AS nrep
         |  FROM edges e JOIN l${k - 1} l ON e.v = l.id GROUP BY e.u),
         |s$k AS MATERIALIZED (SELECT l.id, LEAST(l.rep, COALESCE(n.nrep, l.rep)) AS rep
         |  FROM l${k - 1} l LEFT JOIN n$k n ON l.id = n.id),
         |l$k AS MATERIALIZED (SELECT a.id, COALESCE(b.rep, a.rep) AS rep
         |  FROM s$k a LEFT JOIN s$k b ON a.rep = b.id)""".stripMargin
    }
    ((l0 +: rounds).mkString(",\n"), s"l$levels")
  }
}
