package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.mimic.Features
import graft.queries.Registry.t

/** Relational operator battery over the driver's TPC-H-ish tables.
  *
  * Each query exercises one operator family from SURVEY.md §2 (IDs in
  * the scaladoc). Determinism rules for oracle hash-parity:
  *  - double SUMs go through decimal(18,6) (exact, order-independent),
  *    then back to double (correctly-rounded in both engines);
  *  - integer sums/avgs are exact in double, no decimal needed;
  *  - pure per-row scalar math (one IEEE op chain) is bit-deterministic
  *    and is emitted raw;
  *  - DuckDB integer SUM returns HUGEINT — the SQL side always casts
  *    back to BIGINT.
  */
object Relational {

  /** Exact, order-independent sum of a ≤4-decimal double column,
    * returned as double (overflow-safe split-long sum — see
    * [[graft.functions.ColFns.exactSumAsDouble]]). */
  private def dsum(c: org.apache.spark.sql.Column) =
    graft.functions.ColFns.exactSumAsDouble(c)

  val qs: Seq[Q] = Seq(

    // S1/S3/P1: scan + projection + filter pushdown (pruning reaches parquet).
    Q("q02_filter_project",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_quantity") < 25)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  l_extendedprice * (1.0 - l_discount) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01' AND l_quantity < 25""".stripMargin),
      "filter+project, predicate pushdown (SURVEY P1-P4,S3)"),

    // A1/A4/A10: grouped aggregation, TPC-H Q1 shape.
    Q("q01_agg_sum",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
             |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
             |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  COUNT(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin),
      "grouped agg w/ exact decimal sums (SURVEY A1,A4,A10)"),

    // J1-J3: multiway equi-join with broadcast dims.
    Q("q03_join_multi",
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
        // Shape (r15, matched-pair measured at sf1 — see BENCH_NOTES):
        //  - n_nationkey determines (r_name, n_name) 1:1 (25 values),
        //    so the GROUP KEY is the int nationkey, not two strings;
        //    the dim probe happens once per ORDERS row BEFORE the big
        //    exchange (1.5 M single-map probes) instead of three times
        //    per joined LINEITEM row after it (r14's shape: 3 × 6 M
        //    post-join probes + 6 M two-string group-hashes; measured
        //    1.03 → 0.85 s warm at sf1 / 8 shuffle parts);
        //  - names attach to the 25-ROW agg result, so strings never
        //    ride an exchange at all — at 100 TB the same rule keeps
        //    the wide columns out of every shuffle;
        //  - orders joins as a narrow-build SHUFFLE-HASH (12 B build
        //    rows, co-partitioned with the lineitem side) instead of
        //    the statically-chosen broadcast: a 1.5 M-row broadcast
        //    rebuilt its HashedRelation on the DRIVER every run
        //    (~0.9 s serial, r14), and at 100 TB orders never fits a
        //    broadcast anyway — the d20 narrow-build-SHJ doctrine is
        //    the right shape at every SF. A full pre-agg by l_orderkey
        //    before the join was measured and is WORSE at both r14 and
        //    r15 (the 1.5 M-group final agg costs more than it saves);
        //  - revenue is computed BEFORE the exchange so shuffle rows
        //    stay 16 B.
        li.select(col("l_orderkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
          .join(o.select(col("o_orderkey"), col("o_custkey"))
              .join(broadcast(c.select(col("c_custkey"), col("c_nationkey"))),
                col("o_custkey") === col("c_custkey"))
              .select(col("o_orderkey"), col("c_nationkey"))
              .hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("c_nationkey"))
          .agg(dsum(col("rev")).as("revenue"),
            count(lit(1)).as("n_items"))
          .join(broadcast(n.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r.select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"), col("revenue"), col("n_items"))
      },
      Some("""SELECT r_name, n_name,
             |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin),
      "4-way join, broadcast dims (SURVEY J1-J3)"),

    // J4/J9/J11: semi-join (reference `isin` filters).
    Q("q04_semi_join",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin),
      "left-semi join / isin (SURVEY J4,J9,J11)"),

    // J14-adjacent: anti-join.
    Q("q05_anti_join",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
      "anti join"),

    // W4/W5 + .iloc[0] first-match: row_number over ordered window.
    Q("q06_window_topn",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
        t(s, dir, "orders").withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("last_order_date"))
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS last_order_date
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
             |        ORDER BY o_orderdate DESC, o_orderkey ASC) rn FROM orders)
             |WHERE rn = 1""".stripMargin),
      "row_number first-match dedup (SURVEY W4, .iloc[0] semantics)"),

    // P7: full-row dedup / distinct.
    Q("q14_distinct",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority")).distinct(),
      Some("SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"),
      "distinct / drop_duplicates (SURVEY P7)"),

    // U1: union of filtered projections.
    Q("q15_union",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val hi = li.filter(col("l_quantity") >= 45)
          .select(col("l_orderkey"), col("l_linenumber"), lit("hi").as("band"))
        val lo = li.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey"), col("l_linenumber"), lit("lo").as("band"))
        hi.unionByName(lo)
      },
      Some("""SELECT l_orderkey, l_linenumber, 'hi' AS band FROM lineitem WHERE l_quantity >= 45
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'lo' AS band FROM lineitem WHERE l_quantity <= 5""".stripMargin),
      "unionByName (SURVEY U1)"),

    // W5: top-K with deterministic tie-break.
    Q("q16_topk",
      (s, dir) => t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey").asc).limit(5),
      Some("""SELECT l_partkey, COUNT(*) AS cnt FROM lineitem
             |GROUP BY l_partkey ORDER BY cnt DESC, l_partkey ASC LIMIT 5""".stripMargin),
      "top-K by frequency, deterministic ties (SURVEY W5,J12)"),

    // A2: two-level mean-of-counts.
    Q("q17_mean_of_counts",
      (s, dir) => {
        val perCust = t(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        perCust.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(avg(col("n_orders")).as("mean_frequency"),
            count(lit(1)).as("n_customers"))
      },
      Some("""WITH per_cust AS (
             |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey)
             |SELECT c_mktsegment, AVG(n_orders) AS mean_frequency,
             |       COUNT(*) AS n_customers
             |FROM per_cust JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      "two-level mean-of-counts (SURVEY A2)"),

    // A1+A2+A3+J8 folded into one pass: the per-item summary stats shape.
    Q("q22_summary_stats",
      (s, dir) => {
        // Adapter over Features.summary (one scan, two chained
        // aggregations, no join): part → code, order → stay, zero tax →
        // the missing predicate. The explicit repartition on l_partkey
        // makes BOTH aggregation levels run co-located after ONE
        // exchange (hash(partkey) satisfies the (orderkey, partkey)
        // clustering too) and spreads the per-pair hash build across
        // cores — the testdata parquet is a single row group, so without
        // it the whole 600k-group partial aggregation runs inside the
        // one scan task. It stays here, not in the library: on raw
        // MIMIC events a hot itemid would land in one task before any
        // map-side combine.
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_orderkey").as("stay_id"), col("l_tax"))
          .repartition(col("l_partkey"))
        Features.summary(li, "l_partkey", Some(col("l_tax") === 0))
          .withColumnRenamed("missing_count", "zero_tax_count")
      },
      Some("""WITH per_order AS (
             |  SELECT l_partkey, l_orderkey, COUNT(*) AS cnt
             |  FROM lineitem GROUP BY l_partkey, l_orderkey),
             |freq AS (SELECT l_partkey, AVG(cnt) AS mean_frequency
             |  FROM per_order GROUP BY l_partkey),
             |tot AS (SELECT l_partkey, COUNT(*) AS total_count,
             |  COUNT(*) FILTER (WHERE l_tax = 0) AS zero_tax_count
             |  FROM lineitem GROUP BY l_partkey)
             |SELECT freq.l_partkey, mean_frequency, total_count, zero_tax_count
             |FROM freq JOIN tot USING (l_partkey)""".stripMargin),
      "summary stats: freq/missing/total in one pass (SURVEY A1-A3,J8)"),

    // P11/P12: conditional label assignment.
    Q("q19_case_label",
      (s, dir) => t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0, 2)
          .when(col("o_orderstatus") === "F", 1).otherwise(0).as("label")),
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderstatus = 'F' AND o_totalprice > 100000.0 THEN 2
             |       WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
             |FROM orders""".stripMargin),
      "when/otherwise labels (SURVEY P11,P12)"),

    // P14/P16/P17: substring + casts + derived arithmetic.
    Q("q20_derived_substr",
      (s, dir) => t(s, dir, "part").select(
        col("p_partkey"),
        substring(col("p_type"), 1, 3).as("type_prefix"),
        substring(col("p_brand"), -2, 2).as("brand_suffix"),
        (col("p_size") + lit(100)).cast("long").as("size_code"),
        (col("p_retailprice") - lit(5.0)).as("adj_price")),
      Some("""SELECT p_partkey,
             |  SUBSTRING(p_type, 1, 3) AS type_prefix,
             |  SUBSTRING(p_brand, LENGTH(p_brand)-1, 2) AS brand_suffix,
             |  CAST(p_size + 100 AS BIGINT) AS size_code,
             |  p_retailprice - 5.0 AS adj_price
             |FROM part""".stripMargin),
      "substring/cast/arithmetic derivations (SURVEY P14,P16,P17)"),

    // A10: scalar one-row summary (cohort summary.txt shape).
    Q("q24_scalar_summary",
      (s, dir) => t(s, dir, "orders").agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
        dsum(col("o_totalprice")).as("total_value")),
      Some("""SELECT COUNT(*) AS n_orders,
             |  COUNT(DISTINCT o_custkey) AS n_customers,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
             |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value
             |FROM orders""".stripMargin),
      "scalar summary aggregates (SURVEY A10,S8)"),

    // A5: vocabulary (distinct values + counts).
    Q("q25_vocab",
      (s, dir) => t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt")),
      Some("SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type"),
      "vocabulary w/ counts (SURVEY A5)"),

    // A8: per-group mode with deterministic tie-break (UOM-cleaner shape).
    Q("q13_group_mode",
      (s, dir) => {
        val g = t(s, dir, "events").groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("cnt").desc, col("event_type").asc)
        g.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"), col("cnt").as("mode_cnt"))
      },
      Some("""SELECT user_id, event_type AS mode_type, cnt AS mode_cnt FROM (
             |  SELECT user_id, event_type, COUNT(*) AS cnt,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY COUNT(*) DESC, event_type ASC) rn
             |  FROM events GROUP BY user_id, event_type)
             |WHERE rn = 1""".stripMargin),
      "per-group mode, count-desc/value-asc ties (SURVEY A8)"),

    // A3-adjacent: regexp extraction + zero/missing counting.
    Q("q18_missing_count",
      (s, dir) => {
        // nullif before cast: regexp_extract yields '' on no match and
        // Spark's default ANSI cast THROWS on '' — digit-less props must
        // yield null, not abort the job (edge-case battery finding; the
        // oracle's TRY_CAST is the same semantics)
        val k = nullif(regexp_extract(col("props"), "(\\d+)", 1), lit("")).cast("long")
        t(s, dir, "events").select(col("event_type"), k.as("k"))
          .groupBy(col("event_type"))
          .agg(sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_zero"),
            count(lit(1)).as("n_total"),
            avg(col("k")).as("avg_k"))
      },
      Some("""SELECT event_type,
             |  COUNT(*) FILTER (WHERE TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) = 0) AS n_zero,
             |  COUNT(*) AS n_total,
             |  AVG(TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT)) AS avg_k
             |FROM events GROUP BY event_type""".stripMargin),
      "regexp extract + missing-count agg (SURVEY A3,P16)"),

    // J8: right join — the reference's summary merges freq ⋈ total with
    // how="right" (feature_preproc_icu.py:331,343-344).
    Q("q28_right_join",
      (s, dir) => {
        // ONE corpus aggregation feeds BOTH join sides (the
        // Features.summary fold discipline): the naive spelling scans
        // lineitem twice (filtered agg + total agg) and shuffles each —
        // at 100 TB that doubles the scan volume for a conditional
        // count. A single (partkey) agg computes the heavy count as
        // sum(when(...)) alongside the total — and the right join then
        // FOLDS AWAY ENTIRELY (the q36/q29 single-pass discipline):
        // both join sides derive from the same aggregation whose group
        // key is unique, so the right join of heavy = σ(nh>0) onto
        // total on that key is the identity — a matched row yields
        // n_heavy = nh (nh > 0), an unmatched row yields NULL →
        // COALESCE 0 = nh (nh = 0 is the only unmatched case). The
        // whole query is ONE map-side-combinable aggregation: no second
        // scan (the r15 shape), no join, no checkpoint (the r16 shape —
        // whose construct-time toRdd re-ran the histogram on every plan
        // build and pinned a lineage-truncated RDD, VERDICT r16 #3),
        // no cache. Proven equivalent: hash-exact vs the unchanged
        // right-join oracle SQL at sf0.01 + the edge battery.
        t(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(when(col("l_quantity") >= 40, 1L).otherwise(0L)).as("n_heavy"),
            count(lit(1)).as("n_total"))
          .select(col("l_partkey"), col("n_heavy"), col("n_total"))
      },
      Some("""WITH heavy AS (
             |  SELECT l_partkey, COUNT(*) AS n_heavy FROM lineitem
             |  WHERE l_quantity >= 40 GROUP BY l_partkey),
             |total AS (SELECT l_partkey, COUNT(*) AS n_total FROM lineitem GROUP BY l_partkey)
             |SELECT total.l_partkey, COALESCE(n_heavy, 0) AS n_heavy, n_total
             |FROM heavy RIGHT JOIN total ON heavy.l_partkey = total.l_partkey""".stripMargin),
      "right join of partial agg onto total (SURVEY J8, features.py:331-344)"),

    // A8 FULL: UOM cleaner — per group: majority value; if majority ratio
    // clears the cutoff keep only majority rows, else keep all
    // (uom_conversion.py:9-26, cutoff at features.py:123).
    Q("q29_uom_clean",
      (s, dir) => {
        // Mode AND total from ONE (user, type) count aggregation: the
        // naive 3-branch shape (count + window-rank for the mode, a
        // SECOND full events aggregation for the total, two broadcast
        // joins) scanned events twice and sorted the counts. Here
        // min(struct(-cnt, type)) IS the (cnt DESC, type ASC) rank-1 row
        // — struct ordering is lexicographic — and sum(cnt) IS n_tot, so
        // one agg over the count frame replaces the window + tot branch
        // and the probe pays a single broadcast join. Measured 3.3x →
        // under 2x at sf1; at 100 TB it halves the corpus scan volume.
        val ev = t(s, dir, "events")
        val cnt = ev.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val per = cnt.groupBy(col("user_id"))
          .agg(min(struct((-col("cnt")).as("neg"), col("event_type").as("et"))).as("m"),
            sum(col("cnt")).as("n_tot"))
          .select(col("user_id"), col("m.et").as("mode_type"),
            (-col("m.neg")).as("mode_cnt"), col("n_tot"))
        ev.join(broadcast(per), Seq("user_id"))
          .filter(col("mode_cnt").cast("double") / col("n_tot").cast("double") <= 0.25 ||
            col("event_type") === col("mode_type"))
          .select(col("event_id"), col("user_id"), col("event_type"))
      },
      Some("""WITH cnt AS (
             |  SELECT user_id, event_type, COUNT(*) AS cnt
             |  FROM events GROUP BY user_id, event_type),
             |mode AS (
             |  SELECT user_id, event_type AS mode_type, cnt AS mode_cnt FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY cnt DESC, event_type ASC) rn FROM cnt) WHERE rn = 1),
             |tot AS (SELECT user_id, COUNT(*) AS n_tot FROM events GROUP BY user_id)
             |SELECT event_id, events.user_id, events.event_type
             |FROM events JOIN mode ON events.user_id = mode.user_id
             |JOIN tot ON events.user_id = tot.user_id
             |WHERE CAST(mode_cnt AS DOUBLE) / CAST(n_tot AS DOUBLE) <= 0.25
             |   OR events.event_type = mode_type""".stripMargin),
      "UOM-cleaner: majority-ratio conditional row drop (SURVEY A8, uom.py:9-26)"),

    // A6: per-group max of group sums (per-admission event capacity,
    // datagen.py:609-629) — one scalar row.
    Q("q30_capacity",
      (s, dir) => {
        val g = t(s, dir, "events").groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        val perUser = g.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_events"))
        perUser.agg(max(col("n_types")).as("max_types_per_user"),
          max(col("n_events")).as("max_events_per_user"),
          count(lit(1)).as("n_users"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_type, COUNT(*) AS c
             |  FROM events GROUP BY user_id, event_type),
             |per_user AS (
             |  SELECT user_id, COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS n_events
             |  FROM g GROUP BY user_id)
             |SELECT MAX(n_types) AS max_types_per_user,
             |  MAX(n_events) AS max_events_per_user,
             |  COUNT(*) AS n_users
             |FROM per_user""".stripMargin),
      "per-group max of group sums (SURVEY A6, datagen.py:609-629)"),

    // A9 mean-variant pivot: the reference's default pivot_table aggfunc
    // is MEAN (datagen.py:647-649); exact via decimal sum / count.
    Q("q31_pivot_avg",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg((sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1))))
        .na.fill(-1.0),
      Some("""SELECT user_id,
             |  COALESCE(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'click') AS VARCHAR) AS DOUBLE)
             |    / COUNT(*) FILTER (WHERE event_type = 'click'), -1.0) AS click,
             |  COALESCE(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'error') AS VARCHAR) AS DOUBLE)
             |    / COUNT(*) FILTER (WHERE event_type = 'error'), -1.0) AS error,
             |  COALESCE(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase') AS VARCHAR) AS DOUBLE)
             |    / COUNT(*) FILTER (WHERE event_type = 'purchase'), -1.0) AS purchase,
             |  COALESCE(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'signup') AS VARCHAR) AS DOUBLE)
             |    / COUNT(*) FILTER (WHERE event_type = 'signup'), -1.0) AS signup,
             |  COALESCE(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'view') AS VARCHAR) AS DOUBLE)
             |    / COUNT(*) FILTER (WHERE event_type = 'view'), -1.0) AS view
             |FROM events GROUP BY user_id""".stripMargin),
      "pivot with mean agg, exact decimal sums (SURVEY A9, datagen.py:647-649)"),

    // U4: horizontal concat — per-modality wide frames joined on the key
    // (datagen.py:779-782 MEDS‖PROC‖OUT‖CHART assembly).
    Q("q36_wide_concat",
      (s, dir) => {
        // The reference assembles per-modality wide frames and joins them
        // on the key; every branch here groups the SAME scan by the SAME
        // key, so the three aggregations (pivot counts, filtered view
        // sum, total count) fold into ONE conditional aggregation — the
        // q28/q29 single-scan discipline. 3 scans + 3 exchanges + 2
        // joins → 1 scan + 1 exchange, identical rows: the pivot's
        // absent-type count is 0 either way, the left join's missing
        // view sum is the conditional sum's null → same coalesce(0.0),
        // and all three branches carry the same user_id group set. At
        // 100 TB this is a third of the scan volume and one exchange.
        // isNotNull reproduces the join spelling's null-key semantics:
        // the NULL-user group never matched the inner stats join (null
        // ≠ null), so it must not surface from the fold either — and as
        // a filter it now prunes at the scan instead of after an agg.
        t(s, dir, "events")
          .filter(col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
            coalesce(sum(when(col("event_type") === "view", col("value"))
              .cast("decimal(18,6)")).cast("double"), lit(0.0)).as("view_value"),
            count(lit(1)).as("n_events"))
      },
      Some("""WITH w1 AS (
             |  SELECT user_id,
             |    COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
             |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
             |  FROM events GROUP BY user_id),
             |w2 AS (
             |  SELECT user_id, CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS view_value
             |  FROM events WHERE event_type = 'view' GROUP BY user_id),
             |stats AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
             |SELECT w1.user_id, n_click, n_purchase,
             |  COALESCE(view_value, 0.0) AS view_value, n_events
             |FROM w1 LEFT JOIN w2 ON w1.user_id = w2.user_id
             |JOIN stats ON w1.user_id = stats.user_id""".stripMargin),
      "horizontal concat of wide frames (SURVEY U4, datagen.py:779-782)"),

    // J5: dictionary enrichment join — code → title lookup through a
    // broadcast dim, no aggregation (the d_icd_diagnoses shape,
    // icuutil.py:82-88). Fact side never shuffles.
    Q("q40_dict_join",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1)
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"), col("p_type"))),
          col("l_partkey") === col("p_partkey"), "inner")
        .select(col("l_orderkey"), col("l_partkey"), col("p_name"),
          substring(col("p_type"), 1, 6).as("type_head")),
      Some("""SELECT l_orderkey, l_partkey, p_name,
             |  SUBSTRING(p_type, 1, 6) AS type_head
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_linenumber = 1""".stripMargin),
      "broadcast dictionary title join (SURVEY J5, icuutil.py:82-88)"),

    // Skew-salted join (scale technique): events has only 5 distinct
    // event_type keys — the worst-case shuffle skew. saltedJoin spreads
    // each hot key over 8 reducers; results are IDENTICAL to the plain
    // join (salting is physical), so the oracle is the plain SQL join.
    Q("q37_salted_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val dim = ev.groupBy(col("event_type")).agg(count(lit(1)).as("type_cnt"))
        graft.functions.ColFns.saltedJoin(
            ev.select(col("event_id"), col("event_type")), dim,
            Seq("event_type"), col("event_id"), factor = 8)
          .select(col("event_id"), col("event_type"), col("type_cnt"))
      },
      Some("""WITH dim AS (
             |  SELECT event_type, COUNT(*) AS type_cnt FROM events GROUP BY event_type)
             |SELECT event_id, events.event_type, type_cnt
             |FROM events JOIN dim ON events.event_type = dim.event_type""".stripMargin),
      "salted equi-join for hot keys, result-identical to plain join (scale)"),

    // A5 approximate variant (scale technique): HLL++ distinct counts for
    // logging/stats where exact distinct would shuffle every value.
    // The raw sketch estimate has no cross-engine twin (DuckDB's sketch
    // differs), so the oracle-checked output carries (a) the exact
    // distinct count and (b) the estimate REDUCED to its ±3σ error-bound
    // verdict (σ = rsd·exact): a drifting sketch now fails the driver's
    // hash compare instead of going unchecked. The exact count rides
    // along only to power that bound — the production shape at 100 TB is
    // the sketch alone (mergeable, fixed-size buffer; the exact twin is
    // q25_vocab).
    Q("q38_approx_vocab",
      // rsd 0.05 (Spark's default, HLL precision p=9): measured rsd=0.01
      // (p=14) at 5x the runtime and SLOWER than exact count_distinct at
      // this scale — the wide imperative buffer defeats the hash-agg
      // fast path. 5% error is ample for vocabulary sizing, and the
      // sketch (not the precision) is what buys the 100 TB mergeability.
      (s, dir) => t(s, dir, "events").groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("cnt"))
        .select(col("event_type"), col("exact_users"), col("cnt"),
          // a group whose user_ids are ALL null has exact_users = 0: the
          // ratio envelope is 0/0 (NaN → otherwise-0) but the sketch is
          // vacuously right iff it also says 0 — without the guard the
          // oracle's hardcoded 1 red-flags a healthy sketch
          when(col("exact_users") === 0,
            when(col("approx_users") === 0, 1L).otherwise(0L))
            .otherwise(
              when(abs(col("approx_users").cast("double") / col("exact_users").cast("double")
                - 1.0) <= 0.15, 1L).otherwise(0L)).as("within_envelope")),
      Some("""SELECT event_type,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(1 AS BIGINT) AS within_envelope
             |FROM events GROUP BY event_type""".stripMargin),
      "approx_count_distinct (HLL++) pinned to a ±3σ envelope vs exact (A5 scale variant)"),

    // Approximate-quantile sketch — the scale variant of q12's exact
    // window-rank percentiles, same envelope-oracle pattern as q38: the
    // GK sketch (percentile_approx, accuracy 1000 → rank error ε =
    // 1e-3) is mergeable and fixed-size where the exact path needs a
    // full per-group sort. The estimate itself is engine-specific, so
    // the checked output reduces it to its rank-error verdict: the
    // estimate's true rank, counted with one join-back pass, must sit
    // within ε·n+1 of the target rank. The probe side broadcast is
    // BOUNDED (one row per event_type — a dimension, not a corpus), so
    // it is the legitimate broadcast class, unlike the d20 pair side.
    Q("q41_approx_quantile",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val est = ev.groupBy(col("event_type"))
          .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(1000)).as("est"),
            count(col("value")).as("n"))
          .select(col("event_type"), col("n"),
            element_at(col("est"), 1).as("e50"), element_at(col("est"), 2).as("e95"))
        ev.join(broadcast(est), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n"),
            sum(when(col("value") <= col("e50"), 1L).otherwise(0L)).as("r50"),
            sum(when(col("value") <= col("e95"), 1L).otherwise(0L)).as("r95"))
          .select(col("event_type"), col("n"),
            when(abs(col("r50") - col("n") * 0.5) <= col("n") * 0.001 + 1, 1L)
              .otherwise(0L).as("ok50"),
            when(abs(col("r95") - col("n") * 0.95) <= col("n") * 0.001 + 1, 1L)
              .otherwise(0L).as("ok95"))
      },
      Some("""SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n,
             |  CAST(1 AS BIGINT) AS ok50, CAST(1 AS BIGINT) AS ok95
             |FROM events GROUP BY event_type""".stripMargin),
      "approx quantile sketch (GK) pinned to its rank-error envelope vs exact (q12 scale variant)"),

    // A7: exact per-group percentile clip (outlier_removal.py semantics).
    Q("q12_percentile_clip",
      // Adapter over Features.outlierImputation(impute = true): size-
      // adaptive exact percentiles (ColFns.percentilesByKeyAdaptive —
      // window-rank sort below the broadcast class, histogram shape
      // above it, spec-proven bit-identical), bounds broadcast back so
      // the probe side stays exchange-free, value clipped to [p05, p95].
      // All-null groups get null bounds and least/greatest pass the
      // value through (clip = id).
      (s, dir) => Features.outlierImputation(
          t(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value", cutOff = 95, leftThresh = 5, impute = true)
        .select(col("event_id"), col("event_type"), round(col("value"), 6).as("clipped")),
      Some("""WITH pct AS (
             |  SELECT event_type,
             |    quantile_cont(value, 0.05) AS p05,
             |    quantile_cont(value, 0.95) AS p95
             |  FROM events GROUP BY event_type)
             |SELECT event_id, events.event_type,
             |  ROUND(LEAST(GREATEST(value, p05), p95), 6) AS clipped
             |FROM events JOIN pct ON events.event_type = pct.event_type""".stripMargin),
      "exact linear-interp percentile clip (SURVEY A7, outlier.py:11-37)"),

    // Grouping sets: ROLLUP subtotals + grand total in ONE pass — the
    // multi-granularity summary the reference produces with separate
    // groupbys per level (summary_writer shapes). The fact table is
    // aggregated at the FINEST grouping first (count/sum are
    // decomposable), then the rollup re-aggregates those few partial
    // rows — so Expand multiplies the tiny leaf aggregate, not the
    // fact rows. At 100 TB this is the only viable order: expanding
    // first triples the rows entering partial aggregation; pre-agg
    // ships one row per (flag, status) per task and the Expand runs
    // over a handful of rows. grouping_id bit order (first col = MSB)
    // matches DuckDB's GROUPING(a, b) — probed, and the gid column
    // pins it cross-engine. Decimal-exact sum (the q31 discipline) so
    // partial-agg order can't drift the double; sum-of-sums over
    // decimals is exact, so the two-level shape is value-identical.
    Q("q42_rollup",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("_n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("_sq"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_n")).cast("long").as("n_rows"),
          sum(col("_sq")).cast("double").as("sum_qty"),
          grouping_id().cast("long").as("gid")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
             |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
      "ROLLUP grouping sets: subtotals + grand total in one partial-agg pass (SURVEY A-family extension)")
  )
}
