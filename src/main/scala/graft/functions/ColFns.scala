package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable Column-returning helpers (NOT UDFs — every helper composes
  * built-in Catalyst expressions, so codegen and pushdown stay intact).
  *
  * The pandas-compat semantics mirror the reference pipeline
  * (vanderschaarlab/temporai-mivdp); citations are file:line into
  * /root/reference.
  */
object ColFns {

  /** Floor division on a long column: largest n with n*divisor <= x.
    * Differs from Scala/Java `/` (truncation toward zero) for negatives.
    */
  def floorDiv(x: Column, divisor: Long): Column =
    ((x - pmod(x, lit(divisor))) / lit(divisor)).cast("long")

  /** Exact, order-independent sum of a ≤6-decimal double column,
    * returned as double — the oracle-parity replacement for a float sum
    * (whose value depends on reduction order) that does NOT pay Spark's
    * boxed-BigDecimal aggregation path.
    *
    * Per row the value is scaled to an integer micro-unit long
    * (round HALF_UP, same as cast-to-decimal(18,6)) and split into
    * high/low parts so the per-row work is pure codegen'd long
    * arithmetic (measured 2.4× faster than sum over decimal(18,6) at
    * sf0.1). The two long sums cannot overflow until ~9e18 in EACH
    * part — i.e. ~9e12 rows of magnitude 1e6 — and are recombined
    * exactly in decimal at finish time (once per group), with a single
    * final rounding to double: bit-identical to
    * `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`.
    */
  def exactSumAsDouble(c: Column): Column = {
    val d = c * 1e6
    // Half-away-from-zero via floor (which maps double -> long in one
    // codegen'd step), NOT Spark's round(): Round on DoubleType allocates
    // a java BigDecimal per row (BigDecimal.valueOf -> setScale), which
    // measured 3x the cost of the whole sum. Identical result: a double
    // whose shortest representation prints as x.5 IS exactly x.5, and
    // micro-scaled <=6-decimal inputs land ~1e-7 from integers, far from
    // any .5 boundary the d+0.5 rounding could misplace.
    val s = when(d >= 0, floor(d + 0.5)).otherwise(-floor(-d + 0.5))
    val q = (s / 1000000L).cast("long") // truncating div; |s| < 2^53 so exact
    val r = s - q * 1000000L
    ((sum(q).cast("decimal(38,0)") * 1000000L + sum(r)) / 1000000L)
      .cast("double")
  }

  /** Pandas-Timedelta "hour components" semantics used throughout the
    * reference's time-offset math: a stringified Timedelta is split into
    * `days*24 + hours`
    * (datagen/data_generation_icu.py:214-218, 250-256, 310-314, 348-369).
    * Pandas renders -4980s as "-1 days +22:37:00" → -24+22 = -2, which is
    * exactly floor(total_seconds/3600) — verified against pandas for
    * positive/negative/boundary values. NOT truncation toward zero.
    */
  def tdHours(end: Column, start: Column): Column =
    floorDiv(micros(end) - micros(start), 3600L * 1000000L)

  /** Same, day granularity (cohort los is days-only:
    * day_intervals_cohort_v1.py:102-105). */
  def tdDays(end: Column, start: Column): Column =
    floorDiv(micros(end) - micros(start), 86400L * 1000000L)

  /** Microseconds since epoch for TIMESTAMP *or* TIMESTAMP_NTZ input.
    * `unix_micros` only accepts TIMESTAMP; the driver's parquet tables
    * (pandas `timestamp[ms]`, no tz) resolve to NTZ in this Spark build,
    * so we cast first — a wall-clock no-op under the pinned UTC session
    * timezone.
    */
  def micros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** ICD code root = first three characters
    * (disease_cohort.py:42,71; icu_preprocess_util.py:97,375,398). */
  def icdRoot(code: Column): Column = substring(code, 1, 3)

  /** anchor_year_group "2014 - 2016" → 2016 (cohort.py:132). */
  def yearGroupEnd(g: Column): Column = substring(g, -4, 4).cast("int")

  /** Whitespace-normalized text: trim + collapse runs of whitespace. */
  def normWs(text: Column): Column =
    trim(regexp_replace(text, "\\s+", " "))

  /** Token count of whitespace-normalized text (0 for empty/blank).
    * Pure length arithmetic so the same computation is expressible in any
    * ANSI SQL oracle (no regexp-dialect dependence in the hot path).
    */
  def tokenCount(text: Column): Column = {
    val n = normWs(text)
    when(length(n) === 0, lit(0L))
      .otherwise(length(n) - length(regexp_replace(n, " ", "")) + 1)
      .cast("long")
  }

  /** Distinct whitespace tokens of a text column. Order is unspecified —
    * only use order-insensitive consumers (sizes, mins, sums). */
  def tokenSet(text: Column): Column = array_distinct(split(normWs(text), " "))

  // ---------- vector math over array<float>/array<double> columns ----------

  /** Elementwise cast to double (floats must be widened before any
    * accumulation so cross-engine results agree to ~1 ulp). */
  def asDoubles(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via sequential left fold — deterministic accumulation
    * order (index order), codegen-friendly, no UDF. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDoubles(a), asDoubles(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two vector columns (double). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  // ---------- exact percentiles at scale ----------

  /** Per-group exact linear-interpolation percentiles via window ranks
    * instead of Spark's `percentile` aggregate. Semantically identical
    * (lo + frac·(hi-lo) over the sorted non-null values — the same
    * explicit IEEE expression the DuckDB oracles spell out), but the
    * aggregate buffers EVERY value of a group in one in-memory map
    * (an OOM at 100 TB group sizes, and a serial bottleneck even at
    * sf0.1), while this formulation is a partition-parallel sort that
    * spills. Groups with no non-null value are absent from the result —
    * left-join and treat null bounds as pass-through, which is exactly
    * what `least`/`greatest`'s null-skipping does.
    *
    * @param ps (outputColumn, fraction) pairs, e.g. Seq("p05" -> 0.05).
    */
  def percentilesByKey(df: org.apache.spark.sql.DataFrame, key: String,
      value: String, ps: Seq[(String, Double)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = df.filter(col(value).isNotNull)
      .select(col(key), col(value))
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col(key)).orderBy(col(value)))
          .cast("long") - 1)
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(key))))
    val aggs = ps.flatMap { case (name, p) =>
      val pos = lit(p) * (col("_n") - 1).cast("double")
      Seq(
        max(when(col("_rn") === floor(pos), col(value))).as(s"_lo_$name"),
        max(when(col("_rn") === ceil(pos), col(value))).as(s"_hi_$name"),
        max(pos - floor(pos).cast("double")).as(s"_f_$name"))
    }
    val outs = ps.map { case (name, _) =>
      (col(s"_lo_$name") + col(s"_f_$name") * (col(s"_hi_$name") - col(s"_lo_$name")))
        .as(name)
    }
    ord.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
      .select(col(key) +: outs: _*)
  }

  /** Exact per-group percentiles WITHOUT a per-group full sort — the
    * 100 TB shape of [[percentilesByKey]] (same outputs, bit-identical
    * interpolation):
    *
    *   pass 1  histogram: count rows per (key, monotone value bucket)
    *           — one map-side-combinable agg; buckets come from the
    *           order-preserving double→long bit map
    *           ([[DoubleOrderBits]]) right-shifted `bucketShift`, so
    *           NO range assumption and no pre-scan;
    *   locate  cumulative counts over the HISTOGRAM (windows see
    *           buckets-per-key rows, never the corpus) pin, for each
    *           target fraction, the bucket + in-bucket rank of the
    *           floor and ceil order statistics;
    *   pass 2  only rows of TARGET buckets (≈ group_size / #buckets
    *           per target) are sorted, per (key, bucket, target), and
    *           the pinned local rank is picked; linear interpolation
    *           as numpy/quantile_cont spells it.
    *
    * vs [[percentilesByKey]]: that sorts EVERY group member inside one
    * window partition per key — partition-parallel and spillable, but
    * a full sort of the corpus; here the corpus-sized pass is a narrow
    * counting agg and only slivers ever sort. Groups with no non-null
    * value are absent from the result (same contract). */
  def histPercentilesByKey(df: org.apache.spark.sql.DataFrame, key: String,
      value: String, ps: Seq[(String, Double)],
      bucketShift: Int = 40): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vb = df.filter(col(value).isNotNull)
      .select(col(key), col(value),
        // cast is monotone over numerics, so bucketing on the double
        // image preserves value order for any numeric input column
        shiftright(DoubleOrderBits.orderBits(col(value).cast("double")),
          bucketShift).as("_b"))
    val hist = vb.groupBy(col(key), col("_b")).agg(count(lit(1)).as("_c"))
    val wCum = Window.partitionBy(col(key)).orderBy(col("_b"))
    val wAll = Window.partitionBy(col(key))
    val cum = hist
      .withColumn("_cum", sum(col("_c")).over(wCum))
      .withColumn("_n", sum(col("_c")).over(wAll))
    // ONE pass over the histogram emits every (key, target-side) row: a
    // hist row knows from (_cum, _c, _n) alone whether it holds a target
    // rank, so the former per-side filtered-copy union (2·|ps| branches
    // that Spark cannot CSE — the corpus agg re-ran per branch until a
    // localCheckpoint pinned it, and THAT pinned the corpus agg into
    // every plan CONSTRUCTION via toRdd) collapses to one when()-array
    // explode. `_n` rides along so the interpolation fraction needs no
    // separate per-key frame or join. Exactly one bucket per (key, side)
    // matches (cum is strictly increasing), so row multiplicity is
    // unchanged vs the union spelling.
    val sides = ps.flatMap { case (name, p) =>
      val pos = lit(p) * (col("_n") - 1).cast("double")
      Seq(s"lo_$name" -> floor(pos), s"hi_$name" -> ceil(pos))
    }
    val tags = sides.map { case (which, r) =>
      when(col("_cum") > r && (col("_cum") - col("_c")) <= r,
        struct((r - (col("_cum") - col("_c"))).cast("long").as("_local"),
          lit(which).as("_which")))
    }
    val targets = cum
      .select(col(key), col("_b"), col("_n"),
        explode(filter(array(tags: _*), t => t.isNotNull)).as("_t"))
      .select(col(key), col("_b"), col("_n"),
        col("_t._local").as("_local"), col("_t._which").as("_which"))
    val pickAggs = ps.flatMap { case (name, _) => Seq(
      max(when(col("_which") === s"lo_$name", col(value))).as(s"_lo_$name"),
      max(when(col("_which") === s"hi_$name", col(value))).as(s"_hi_$name"))
    } :+ max(col("_n")).as("_n")
    vb.join(broadcast(targets), Seq(key, "_b"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(key), col("_b"), col("_which")).orderBy(col(value)))
        .cast("long") - 1)
      .filter(col("_rn") === col("_local"))
      .groupBy(col(key)).agg(pickAggs.head, pickAggs.tail: _*)
      .select(col(key) +: ps.map { case (name, p) =>
        val pos = lit(p) * (col("_n") - 1).cast("double")
        val f = pos - floor(pos).cast("double")
        (col(s"_lo_$name") + f * (col(s"_hi_$name") - col(s"_lo_$name")))
          .as(name)
      }: _*)
  }

  /** Size-adaptive exact per-group percentiles: dispatches between the
    * two spec-pinned-identical shapes ([[percentilesByKey]] ≡
    * [[histPercentilesByKey]], ColFnsSpec) on the input's optimizer size
    * estimate — the same estimate-driven strategy choice Spark itself
    * makes for joins via `autoBroadcastJoinThreshold`.
    *
    * Rationale (measured, BENCH_NOTES r16): the histogram shape does
    * three narrow passes (count-agg, sliver pick, probe) where the
    * window shape does one full-width sort + probe. Above a few MB the
    * narrow passes win and keep winning to 100 TB (no per-key
    * single-task sort, mandatory once a hot key outgrows one task);
    * below, the sort is broadcast-class work and the histogram's two
    * extra job launches dominate (sf0.1 matched pair: window 0.48 s vs
    * hist 1.13 s; sf1: hist exec 0.56 s vs window 1.58 s). The
    * crossover is cluster-dependent, so the threshold is a conf
    * (`spark.graft.percentiles.histMinBytes`, default 4 MB — under the
    * measured sf1 crossover, comfortably above the sf0.1 one). Both
    * branches return bit-identical results, so the dispatch can never
    * change a query's output, only its plan.
    */
  def percentilesByKeyAdaptive(df: org.apache.spark.sql.DataFrame, key: String,
      value: String, ps: Seq[(String, Double)],
      bucketShift: Int = 40): org.apache.spark.sql.DataFrame = {
    val thresh = df.sparkSession.conf
      .get("spark.graft.percentiles.histMinBytes", (4L * 1024 * 1024).toString).toLong
    // Size dispatch reads the optimizer's estimate; when stats are
    // unavailable sizeInBytes defaults to a huge value, which silently
    // (and safely) selects the histogram branch — the shape that cannot
    // OOM. NOT persisted: every consumer broadcasts the bounds frame
    // exactly once per action, so a persist would only let REPEATED
    // actions (bench reps, retried jobs) serve stale-free cache hits
    // while pinning an entry for the session's lifetime per distinct
    // input plan (ADVICE r16) — the recompute is one narrow pass,
    // cheaper than the leak.
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < thresh)
      percentilesByKey(df, key, value, ps)
    else histPercentilesByKey(df, key, value, ps, bucketShift)
  }

  // ---------- skew handling ----------

  /** Salted equi-join for skewed keys: the fact side gets a deterministic
    * salt in [0, factor), the (small) dim side is exploded `factor`× so
    * every (key, salt) bucket matches — a hot key's rows spread over
    * `factor` reducers instead of one. Results are IDENTICAL to
    * `fact.join(dim, keys)` (salting is purely physical), so the same
    * SQL oracle applies. `saltSrc` must be a deterministic fact-side
    * column (e.g. a row id) — rand() would break retries/resume.
    *
    * Prefer AQE's skew-join handling when shuffle sizes trigger it; this
    * helper is for the planned-ahead case (known hot keys, or map-side
    * state that AQE can't split).
    */
  def saltedJoin(fact: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame,
      keys: Seq[String], saltSrc: Column, factor: Int): org.apache.spark.sql.DataFrame = {
    val salted = fact.withColumn("_salt", pmod(saltSrc, lit(factor)).cast("int"))
    val dimX = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(dimX, keys :+ "_salt").drop("_salt")
  }
}
