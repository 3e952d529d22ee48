package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.ColFns._
import graft.mimic.{Datagen, Features}
import graft.queries.Registry.t

/** Time-series operator battery over `events` / `orders`+`lineitem` —
  * the Spark-first rewrites of the reference's temporal core
  * (SURVEY.md §2.4 truncation semantics, §2.5 window ops, §2.6 bucketing).
  */
object Temporal {

  private val epoch2024 = lit(1704067200L * 1000000L) // 2024-01-01T00:00Z µs

  val qs: Seq[Q] = Seq(

    // §2.4: pandas-Timedelta hour truncation — floor(total_seconds/3600),
    // exercised on BOTH signs (half the lineitems ship before orderdate).
    Q("q21_td_hours",
      // repartition spreads the broadcast-join probe + timedelta math
      // across cores (single-row-group testdata scans are one task);
      // output is integer-exact, so row order is free to change.
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .repartition(col("l_orderkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          tdHours(col("l_shipdate"), col("o_orderdate")).as("ship_hours_from_order"),
          tdDays(col("l_shipdate"), col("o_orderdate")).as("ship_days_from_order")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(FLOOR(epoch(l_shipdate - o_orderdate)/3600) AS BIGINT) AS ship_hours_from_order,
             |  CAST(FLOOR(epoch(l_shipdate - o_orderdate)/86400) AS BIGINT) AS ship_days_from_order
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin),
      "pandas timedelta-hour truncation incl. negatives (SURVEY §2.4, P13,P18)"),

    // T1: tumbling-bucket aggregation — the datagen.py:537-604 loop as ONE
    // groupBy over a floor-divided bucket column (no driver-side loop).
    Q("q09_bucket_agg",
      (s, dir) => t(s, dir, "events")
        .withColumn("t_bucket", floorDiv(unix_micros(col("ts")) - epoch2024, 3600L * 1000000L))
        .groupBy(col("event_type"), col("t_bucket"))
        .agg(count(lit(1)).as("n_events"),
          graft.functions.ColFns.exactSumAsDouble(col("value")).as("sum_value")),
      Some("""SELECT event_type,
             |  CAST(FLOOR(epoch(ts - TIMESTAMP '2024-01-01')/3600) AS BIGINT) AS t_bucket,
             |  COUNT(*) AS n_events,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      "tumbling-window agg via floor-div bucket (SURVEY T1, datagen.py:537-604)"),

    // J14/T5/U2: dense time grid — every (user, day 0..29) injected, counts
    // left-joined, missing buckets zero-filled.
    Q("q10_dense_grid",
      (s, dir) => {
        // Adapter over Datagen.denseGrid (one groupBy into a day→cnt map,
        // explode + map lookup — no second scan, no join): (user, day)
        // counts are the bucketed frame, user_id the key. Days outside
        // 0..29 are nulled BEFORE the count, so they collapse into one
        // null-t row per user that denseGrid drops while the user keeps
        // its grid rows — as the oracle's DISTINCT-user grid does (a
        // null-ts event likewise contributes no day). A NULL user_id
        // keeps the join's null-key semantics (null never matches null →
        // all-zero row): the when() zeroes it.
        val day = floorDiv(unix_micros(col("ts")) - epoch2024, 86400L * 1000000L)
        val daily = t(s, dir, "events")
          .select(col("user_id"), when(day.between(0L, 29L), day).as("t"))
          .groupBy(col("user_id"), col("t")).agg(count(lit(1)).as("cnt"))
        Datagen.denseGrid(daily, 30, keys = Seq("user_id"))
          .select(col("user_id"), col("t").as("day"),
            when(col("user_id").isNotNull, coalesce(col("cnt"), lit(0L)))
              .otherwise(lit(0L)).as("cnt"))
      },
      Some("""WITH daily AS (
             |  SELECT user_id,
             |    CAST(FLOOR(epoch(ts - TIMESTAMP '2024-01-01')/86400) AS BIGINT) AS day,
             |    COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |grid AS (
             |  SELECT u.user_id, g.day
             |  FROM (SELECT DISTINCT user_id FROM events) u
             |  CROSS JOIN (SELECT CAST(generate_series AS BIGINT) AS day
             |              FROM generate_series(0, 29)) g)
             |SELECT grid.user_id, grid.day, COALESCE(cnt, 0) AS cnt
             |FROM grid LEFT JOIN daily
             |  ON grid.user_id = daily.user_id AND grid.day = daily.day""".stripMargin),
      "dense grid injection + zero fill (SURVEY J14,T5,U2, datagen.py:651-656)"),

    // W2 forward fill: last non-null over ordered per-user window.
    Q("q07_window_ffill",
      (s, dir) => {
        // asc_nulls_last everywhere a ts orders a window: Spark's ASC
        // default is NULLS FIRST, DuckDB's is NULLS LAST — a null-ts row
        // would silently flip window frames cross-engine otherwise
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("v", when(col("event_type") =!= "error", col("value")))
          .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
          .select(col("event_id"), col("user_id"),
            coalesce(col("filled"), lit(-1.0)).as("value_ffill"))
      },
      Some("""SELECT event_id, user_id,
             |  COALESCE(LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0) AS value_ffill
             |FROM events""".stripMargin),
      "forward fill via last(ignoreNulls) window (SURVEY W2, datagen.py:745-756)"),

    // W2 backward fill: first non-null over the following rows.
    Q("q27_window_bfill",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        t(s, dir, "events")
          .withColumn("v", when(col("event_type") =!= "error", col("value")))
          .withColumn("filled", first(col("v"), ignoreNulls = true).over(w))
          .select(col("event_id"), col("user_id"),
            coalesce(col("filled"), lit(-1.0)).as("value_bfill"))
      },
      Some("""SELECT event_id, user_id,
             |  COALESCE(FIRST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), -1.0) AS value_bfill
             |FROM events""".stripMargin),
      "backward fill via first(ignoreNulls) window (SURVEY W2)"),

    // W1: readmission labeling — "∃ later visit within gap" as a
    // RANGE-FRAME window count, the set-based rewrite of
    // cohort.py:268-323's row loop. "any other order by the same
    // customer with date in (d+3, d+33]" is, on integer day numbers,
    // the count over the window frame RANGE BETWEEN 4 FOLLOWING AND
    // 33 FOLLOWING (strict >d+3 ⇔ ≥d+4 on whole days; same-day rows
    // sit at offset 0, outside the frame — ties need no special
    // case). One customer exchange + one partition-parallel sort
    // replaces the former self range-join's two joins and three
    // exchanges (probe semi-join + orderkey join-back; measured 6.7×
    // its twin at sf0.1) — and at 100 TB a per-customer sorted window
    // scan beats re-shuffling the orders table twice for the same
    // existence test. Not an adapter over Cohort.readmissionLabel: the
    // library must handle stays of any length, so each visit enters its
    // window twice (admit + discharge probe) — measured ~1.5× this
    // one-row day-key shape at sf0.1, which fixed 3-day stays allow.
    Q("q08_readmission_label",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("d").asc).rangeBetween(4, 33)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).as("d"))
          .withColumn("label",
            when(count(lit(1)).over(w) > 0, 1).otherwise(0))
          .select(col("o_orderkey"), col("label"))
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN EXISTS (SELECT 1 FROM orders b
             |    WHERE b.o_custkey = a.o_custkey
             |      AND b.o_orderdate > a.o_orderdate + INTERVAL 3 DAY
             |      AND b.o_orderdate <= a.o_orderdate + INTERVAL 33 DAY)
             |  THEN 1 ELSE 0 END AS label
             |FROM orders a""".stripMargin),
      "readmission-in-gap label via self range-join (SURVEY W1, cohort.py:268-323)"),

    // P10/P12: interval clipping with least/greatest (med stop_time clip).
    Q("q23_interval_clip",
      (s, dir) => {
        val j = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
          .repartition(col("l_orderkey")) // see q21 — parallel probe, integer-exact output
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        val hi = col("o_orderdate") + expr("INTERVAL 30 DAYS")
        j.select(col("l_orderkey"), col("l_linenumber"),
          tdHours(least(greatest(col("l_shipdate"), col("o_orderdate")), hi),
            col("o_orderdate")).as("clipped_hours"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(FLOOR(epoch(LEAST(GREATEST(l_shipdate, o_orderdate),
             |    o_orderdate + INTERVAL 30 DAY) - o_orderdate)/3600) AS BIGINT) AS clipped_hours
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin),
      "interval clip via least/greatest (SURVEY P10,P12, datagen.py:384-424)"),

    // A9: long→wide pivot with pinned vocabulary (deterministic columns).
    Q("q11_pivot",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L),
      Some("""SELECT user_id,
             |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
             |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
             |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY user_id""".stripMargin),
      "pivot w/ precomputed vocab (SURVEY A9,U3, datagen.py:647-649)"),

    // W2 FULL impute chain: ffill → bfill → per-entity mean → 0
    // (datagen.py:745-756 + 659-667 impute="Mean"). The mean is a single
    // IEEE division of an exact decimal sum — bit-identical cross-engine.
    Q("q32_impute_chain",
      (s, dir) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc)
        val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val wAll = Window.partitionBy(col("user_id"))
        t(s, dir, "events")
          .withColumn("v", when(col("event_type") =!= "error", col("value")))
          .withColumn("ff", last(col("v"), ignoreNulls = true).over(wPrev))
          .withColumn("bf", first(col("v"), ignoreNulls = true).over(wNext))
          .withColumn("mean_v",
            sum(col("v").cast("decimal(18,6)")).over(wAll).cast("double") /
              count(col("v")).over(wAll))
          .select(col("event_id"), col("user_id"),
            coalesce(col("ff"), col("bf"), col("mean_v"), lit(0.0)).as("v_imputed"))
      },
      Some("""SELECT event_id, user_id,
             |  COALESCE(
             |    LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
             |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER (PARTITION BY user_id) AS VARCHAR) AS DOUBLE)
             |      / COUNT(v) OVER (PARTITION BY user_id),
             |    0.0) AS v_imputed
             |FROM (SELECT event_id, user_id, ts,
             |        CASE WHEN event_type <> 'error' THEN value END AS v
             |      FROM events)""".stripMargin),
      "full impute chain ffill->bfill->mean->0 (SURVEY W2, datagen.py:745-756)"),

    // T4: END-ALIGNED task window — keep the last include_time hours of
    // each entity's history, shifted to t'=0 (readmission_length,
    // datagen.py:460-520: select_time = los − include_time, drop negatives).
    Q("q33_task_window",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
        t(s, dir, "events")
          .withColumn("t", floorDiv(micros(col("ts")) - epoch2024, 3600L * 1000000L))
          .withColumn("sel", max(col("t")).over(w) - lit(24L))
          .withColumn("new_t", col("t") - col("sel"))
          .filter(col("new_t") >= 0)
          .select(col("event_id"), col("user_id"), col("new_t"))
      },
      Some("""SELECT event_id, user_id, new_t FROM (
             |  SELECT event_id, user_id,
             |    t - (MAX(t) OVER (PARTITION BY user_id) - 24) AS new_t
             |  FROM (SELECT event_id, user_id,
             |          CAST(FLOOR(epoch(ts - TIMESTAMP '2024-01-01')/3600) AS BIGINT) AS t
             |        FROM events))
             |WHERE new_t >= 0""".stripMargin),
      "end-aligned task window, shift + drop negatives (SURVEY T4, datagen.py:460-520)"),

    // A7 removal variant: DROP rows outside the per-group percentile band
    // (outlier_removal.py:24-37 imputing=False path; q12 is the clip twin).
    Q("q34_outlier_drop",
      // Adapter over Features.outlierImputation(impute = false): the
      // size-adaptive exact percentiles of q12, bounds broadcast back,
      // rows outside [p05, p95] dropped (a null bound — all-null group —
      // nulls the comparison and drops the row).
      (s, dir) => Features.outlierImputation(
          t(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value", cutOff = 95, leftThresh = 5, impute = false)
        .select(col("event_id"), col("event_type"), col("value")),
      // The oracle spells out linear interpolation (lo + frac*(hi-lo))
      // instead of quantile_cont: DuckDB's quantile_cont computes
      // (1-f)*lo + f*hi, which carries float dirt even when lo == hi
      // (observed: 2.5200000000000005 vs Spark's exact 2.52 on a tie
      // run at sf1) — and a raw >= cutoff filter flips entire tie
      // groups on that 1-ulp difference. Writing the interpolation
      // explicitly makes both engines evaluate the same IEEE
      // expression, so the query is exact at every scale, not just
      // where ties are absent.
      Some("""WITH ord AS (
             |  SELECT event_type, value,
             |    row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM events WHERE value IS NOT NULL),
             |bounds AS (
             |  SELECT event_type,
             |    MAX(CASE WHEN rn = CAST(FLOOR(0.05*(n-1)) AS BIGINT) THEN value END) AS lo05,
             |    MAX(CASE WHEN rn = CAST(CEIL(0.05*(n-1)) AS BIGINT) THEN value END) AS hi05,
             |    MAX(CASE WHEN rn = CAST(FLOOR(0.95*(n-1)) AS BIGINT) THEN value END) AS lo95,
             |    MAX(CASE WHEN rn = CAST(CEIL(0.95*(n-1)) AS BIGINT) THEN value END) AS hi95,
             |    MAX(0.05*(n-1) - FLOOR(0.05*(n-1))) AS f05,
             |    MAX(0.95*(n-1) - FLOOR(0.95*(n-1))) AS f95
             |  FROM ord GROUP BY event_type),
             |pct AS (
             |  SELECT event_type, lo05 + f05*(hi05-lo05) AS p05,
             |    lo95 + f95*(hi95-lo95) AS p95
             |  FROM bounds)
             |SELECT event_id, events.event_type, value
             |FROM events JOIN pct ON events.event_type = pct.event_type
             |WHERE value >= p05 AND value <= p95""".stripMargin),
      "percentile-band outlier row drop (SURVEY A7, outlier.py:24-37)"),

    // As-of join (training-pipeline op the reference lacks): for each
    // purchase, minutes since the user's most recent prior-or-equal view.
    // Implemented WITHOUT a range join: tag both streams, one ordered
    // window carries the last view timestamp forward — the shuffle-once,
    // sort-once pattern that scales linearly (vs the quadratic self-join).
    Q("q35_asof_join",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .withColumn("view_us", when(col("event_type") === "view", micros(col("ts"))))
          .withColumn("last_view_us", last(col("view_us"), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            coalesce(floorDiv(micros(col("ts")) - col("last_view_us"), 60L * 1000000L), lit(-1L))
              .as("mins_since_view"))
      },
      Some("""SELECT event_id, user_id,
             |  COALESCE(CAST(FLOOR(epoch(ts - last_view_ts)/60) AS BIGINT), -1) AS mins_since_view
             |FROM (
             |  SELECT event_id, user_id, ts, event_type,
             |    LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
             |  FROM events WHERE event_type IN ('view', 'purchase'))
             |WHERE event_type = 'purchase'""".stripMargin),
      "as-of join via tagged-union ordered window (north-star temporal op)"),

    // Sessionization: 30-minute-gap session windows per user — the
    // classic lag→flag→cumsum pattern (one shuffle by user, one sort).
    // The streaming twin (open-ended sessions via state timeout) is in
    // graft.streaming; this batch form is oracle-checkable.
    Q("q39_sessionize",
      (s, dir) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc)
        val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("prev_us", lag(micros(col("ts")), 1).over(ord))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              micros(col("ts")) - col("prev_us") > 30L * 60L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("sess_no", sum(col("new_sess")).over(run))
          .groupBy(col("user_id"), col("sess_no"))
          .agg(count(lit(1)).as("n_events"),
            floorDiv(max(micros(col("ts"))) - min(micros(col("ts"))), 60L * 1000000L)
              .as("sess_minutes"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch(ts - lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
             |sessions AS (
             |  SELECT user_id, ts,
             |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
             |  FROM flagged)
             |SELECT user_id, sess_no, COUNT(*) AS n_events,
             |  CAST(FLOOR(epoch(MAX(ts) - MIN(ts))/60) AS BIGINT) AS sess_minutes
             |FROM sessions GROUP BY user_id, sess_no""".stripMargin),
      "session windows via lag/flag/cumsum (north-star temporal; streaming twin in graft.streaming)"),

    // Running per-entity accumulation (integer-exact across engines).
    Q("q26_running_sum",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("k", // nullif: ANSI cast('') throws — see q18
            nullif(regexp_extract(col("props"), "(\\d+)", 1), lit("")).cast("long"))
          .select(col("event_id"), col("user_id"),
            sum(col("k")).over(w).as("running_k"),
            count(lit(1)).over(w).as("running_n"))
      },
      Some("""SELECT event_id, user_id,
             |  CAST(SUM(TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT))
             |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_k,
             |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
             |FROM events""".stripMargin),
      "running windowed accumulation (SURVEY W2-adjacent)")
  )
}
