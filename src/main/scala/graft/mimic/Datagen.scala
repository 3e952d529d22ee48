package graft.mimic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** Stage-4 time-series generation — the Spark-first rewrite of
  * data_generation_icu.py (988 LoC; SURVEY E3). Every tqdm loop becomes
  * one shuffle:
  *  - the per-bucket loop (537-604) → floor-div bucket column + ONE groupBy (T1)
  *  - the per-stay dict loop (693-988) → keyed wide rows with MapType
  *    columns, partitioned by stay on write
  *  - ffill/bfill/impute (745-756) → ordered windows (W2).
  */
object Datagen {

  /** generate_adm (datagen.py:205-224): cohort with los recomputed in
    * HOURS (pandas day*24+hour component semantics = floor, §2.4),
    * positive-los filter. */
  def generateAdm(cohort: DataFrame): DataFrame =
    cohort
      .withColumn("los", ColFns.tdHours(col("outtime"), col("intime")))
      .filter(col("los") > 0)

  /** generate_proc/out/chart (datagen.py:226-339): hour offset →
    * start_time, keep 0 <= start_time and los - start_time > 0.
    * `offsetCol` is event_time_from_admit from the features stage.
    */
  def generateEvents(events: DataFrame, adm: DataFrame, offsetCol: String = "event_time_from_admit"): DataFrame =
    // one broadcast join does both jobs: cohort membership (non-matching
    // rows get null los and fail the sanity filter) and the los bound —
    // a separate left_semi would be a second full pass over the largest
    // table for nothing
    events
      .withColumn("start_time", col(offsetCol))
      .filter(col("start_time") >= 0)
      .join(broadcast(adm.select(col("stay_id"), col("los"))), Seq("stay_id"), "left")
      .filter(col("los") - col("start_time") > 0)
      .drop("los")

  /** generate_meds (datagen.py:341-390): interval events; keep
    * stop > start, scope to cohort, drop start after visit end, clip stop
    * to los (P12). */
  def generateMeds(meds: DataFrame, adm: DataFrame): DataFrame =
    meds
      .withColumn("start_time", col("start_hours_from_admit"))
      .withColumn("stop_time", col("stop_hours_from_admit"))
      .filter(col("stop_time") - col("start_time") > 0)
      .join(broadcast(adm.select(col("stay_id"), col("los"))), Seq("stay_id"), "inner")
      .filter(col("los") - col("start_time") > 0)
      .withColumn("stop_time", least(col("stop_time"), col("los")))
      .drop("los")

  /** mortality_length / los_length (datagen.py:392-458, T2/T3): keep stays
    * with los >= minLos, cut events at includeTime, clip med stop_time.
    * Returns (stays, events map) with events filtered per modality kind.
    */
  def frontWindow(df: DataFrame, keepStays: DataFrame, includeTime: Int,
      isInterval: Boolean): DataFrame = {
    val cut = df
      .join(keepStays.select(col("stay_id")), Seq("stay_id"), "left_semi")
      .filter(col("start_time") <= includeTime)
    if (isInterval)
      cut.withColumn("stop_time", least(col("stop_time"), lit(includeTime)))
    else cut
  }

  /** readmission_length (datagen.py:460-520, T4): END-aligned window —
    * shift every event by −(los − includeTime); point events keep
    * start_time >= 0, interval events keep stop_time >= 0 and floor
    * start_time at 0. */
  def endWindow(df: DataFrame, adm: DataFrame, includeTime: Int,
      isInterval: Boolean): DataFrame = {
    val sel = adm.select(col("stay_id"), (col("los") - includeTime).as("_select_time"))
    val shifted = df
      .join(broadcast(sel), Seq("stay_id"), "inner")
      .withColumn("start_time", col("start_time") - col("_select_time"))
    val out =
      if (isInterval)
        shifted.withColumn("stop_time", col("stop_time") - col("_select_time"))
          .filter(col("stop_time") >= 0)
          .withColumn("start_time", greatest(col("start_time"), lit(0)))
      else
        shifted.filter(col("start_time") >= 0)
    out.drop("_select_time")
  }

  /** smooth_meds bucketing (datagen.py:537-604, T1): the reference's
    * per-bucket loop as ONE aggregation over a floor-divided bucket index.
    * Events at start_time == los fall outside every loop bucket in the
    * reference and are dropped here identically (start_time < los).
    */
  def bucketMeds(meds: DataFrame, bucket: Int, los: Int): DataFrame =
    meds.filter(col("start_time") >= 0 && col("start_time") < los)
      .withColumn("t", ColFns.floorDiv(col("start_time"), bucket))
      .groupBy(col("stay_id"), col("itemid"), col("orderid"), col("t"))
      .agg(max(col("stop_time")).as("stop_time"),
        max(col("subject_id")).as("subject_id"),
        avg(col("rate")).as("rate"),       // avg skips nulls = np.nanmean
        avg(col("amount")).as("amount"))
      .withColumn("stop_time", col("stop_time") / bucket)

  /** Point-event flavor of T1: proc/out keep presence (the reference's
    * `max(subject_id)` is just a stand-in aggregate — a count carries
    * strictly more information and needs no carried-through column),
    * chart means valuenum. */
  def bucketEvents(df: DataFrame, bucket: Int, los: Int, valueAgg: Option[Column]): DataFrame = {
    val base = df.filter(col("start_time") >= 0 && col("start_time") < los)
      .withColumn("t", ColFns.floorDiv(col("start_time"), bucket))
      .groupBy(col("stay_id"), col("itemid"), col("t"))
    valueAgg match {
      case Some(a) => base.agg(a)
      case None => base.agg(count(lit(1)).as("n_events"))
    }
  }

  /** Per-admission capacity stats (datagen.py:609-629, A6):
    * (max over stays of Σ per-(stay,item[,order]) group count,
    *  max rows per stay). q30's shape: the group counts roll up per stay
    * into (n_groups, n_rows = Σ group counts), and both maxima come back
    * in one action over one scan. `keys` must include `stay_id`. */
  def capacity(bucketed: DataFrame, keys: Seq[String]): (Long, Long) = {
    // max() of zero rows is null — coalesce to 0 so an empty window
    // (e.g. a cohort whose every stay was clipped away) yields capacity
    // (0, 0) instead of an NPE at getLong
    val r = bucketed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .groupBy(col("stay_id")).agg(count(lit(1)).as("n_groups"), sum(col("c")).as("n_rows"))
      .agg(coalesce(max(col("n_groups")), lit(0L)), coalesce(max(col("n_rows")), lit(0L)))
      .head
    (r.getLong(0), r.getLong(1))
  }

  /** Dense time grid 0..losBuckets-1 (datagen.py:651-656, J14/T5): grid
    * only over key tuples OBSERVED in that stay — the reference's
    * per-stay pivot does exactly this, and it is what keeps the grid from
    * exploding to |stays|×|vocab|×T at scale (SURVEY §7.4.5).
    *
    * `keys` must include every column the downstream window partitions
    * by (meds: stay_id/itemid/orderid) — gridding on a key SUBSET would
    * put filler rows in a partition that ffill never reaches. The input
    * holds one row per (keys, t), as the bucketing aggregations emit.
    *
    * One shuffle, no join: ONE groupBy(keys) folds each key's buckets
    * into a t → values map, then an explode over range(losBuckets) ∪ the
    * observed t's looks every slot up (missing slots read nulls). The
    * output stays hash-partitioned by `keys`, so the impute and
    * med-signal windows over the same keys add no exchange. Like the
    * reference's concat of missing indices onto the observed frame,
    * observed buckets beyond range(los) (non-divisible bucket sizes) are
    * KEPT, and losBuckets<=0 (bucket > include_time) degenerates to the
    * observed rows alone. A row with a null t belongs to no bucket and
    * is dropped (it can never be a map key).
    */
  def denseGrid(bucketed: DataFrame, losBuckets: Int,
      keys: Seq[String] = Seq("stay_id", "itemid")): DataFrame = {
    if (losBuckets <= 0) return bucketed
    val vals = bucketed.columns.toSeq.filterNot((keys :+ "t").contains)
    bucketed.groupBy(keys.map(col): _*)
      .agg(map_from_entries(collect_list(when(col("t").isNotNull,
        struct(col("t").cast("long"), struct(vals.map(col): _*))))).as("_m"))
      .select(keys.map(col) :+ col("_m") :+ explode(array_union(
        sequence(lit(0L), lit(losBuckets - 1L)), map_keys(col("_m")))).as("t"): _*)
      .withColumn("_v", element_at(col("_m"), col("t")))
      .select(keys.map(col) ++ (col("t") +: vals.map(v => col("_v").getField(v).as(v))): _*)
  }

  /** W2 impute chain on the dense grid: ffill → bfill → per-(stay,itemid)
    * Mean/Median → 0 (datagen.py:745-756, 659-667; create_Dict operates
    * per stay, so the residual statistic is within-stay). */
  def impute(grid: DataFrame, valueCol: String, how: String): DataFrame = {
    val ord = Window.partitionBy(col("stay_id"), col("itemid")).orderBy(col("t").asc)
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wAll = Window.partitionBy(col("stay_id"), col("itemid"))
    val residual: Column = how match {
      case "Mean" => avg(col(valueCol)).over(wAll)
      case "Median" => percentile(col(valueCol), lit(0.5)).over(wAll)
      case "" => lit(null).cast("double")
      case other => throw new IllegalArgumentException(s"unknown imputeHow: $other")
    }
    grid
      .withColumn("_ff", last(col(valueCol), ignoreNulls = true).over(wPrev))
      .withColumn("_bf", first(col(valueCol), ignoreNulls = true).over(wNext))
      .withColumn(valueCol,
        coalesce(col("_ff"), col("_bf"), residual, lit(0.0)))
      .drop("_ff", "_bf")
  }

  /** Med active-signal (datagen.py:736-766, W3): on the dense grid, ffill
    * stop_time/rate/amount, then signal = 1 while the (ffilled) interval
    * is still open at t, and rate/amount are zeroed outside it. */
  def medSignal(grid: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("stay_id"), col("itemid"), col("orderid"))
      .orderBy(col("t").asc)
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def ff(c: String) = last(col(c), ignoreNulls = true).over(wPrev)
    grid
      .withColumn("_stop", ff("stop_time"))
      .withColumn("signal",
        when(col("_stop").isNotNull && col("_stop") - col("t") > 0, 1).otherwise(0))
      .withColumn("rate",
        when(col("signal") === 1, ff("rate")).otherwise(lit(0.0)))
      .withColumn("amount",
        when(col("signal") === 1, ff("amount")).otherwise(lit(0.0)))
      .drop("_stop")
  }

  /** Wide assembly (datagen.py:729-898, A9/U4) — Spark-first shape: ONE
    * row per (stay_id, t) with a MapType itemid→value column per
    * modality, instead of the reference's 10k-column pandas frames
    * (SURVEY §7.4.4: MapType dodges dynamic-schema pivot at 100 TB).
    * Downstream consumers get vocabulary alignment from [[vocab]].
    */
  def wideModality(df: DataFrame, valueCol: String, outCol: String): DataFrame =
    df.groupBy(col("stay_id"), col("t"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("itemid"), col(valueCol).cast("double")))))
        .as(outCol))

  /** Multi-modality horizontal concat on (stay_id, t) (U4). */
  def assemble(parts: Seq[DataFrame]): DataFrame =
    parts.reduce((a, b) => a.join(b, Seq("stay_id", "t"), "full_outer"))

  /** Per-stay NESTED output — the reference's `dataDic[hid][mod]["signal"]
    * = {itemid: [v_t0..v_tN]}` pickle (datagen.py:693-716, S10) as ONE
    * Parquet row per stay: map itemid → time-ordered value array. Input
    * must be the dense imputed grid (every (stay,item) has all T
    * buckets), so the arrays are equal-length and position == t.
    */
  def perStayNested(grid: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val series = grid
      .groupBy(col("stay_id"), col("itemid"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("t"), col(valueCol).cast("double"))))).as("_byT"))
      // map ordered by t → values in t order
      .withColumn("_series", map_values(col("_byT")))
    series.groupBy(col("stay_id"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("itemid"), col("_series"))))).as(outCol))
  }

  /** Vocabulary sidecars (datagen.py:936-984, A5): distinct codes. */
  def vocab(df: DataFrame, codeCol: String): DataFrame =
    df.select(col(codeCol)).distinct().orderBy(col(codeCol))

  /** labels.csv (datagen.py:696-716, A11): one (stay_id, label) row per stay. */
  def labels(adm: DataFrame): DataFrame =
    adm.select(col("stay_id"), col("label")).distinct()

  /** demo.csv (datagen.py:721-724): per-stay demographics. */
  def demo(adm: DataFrame): DataFrame =
    adm.select(col("stay_id"), col("Age"), col("gender"), col("ethnicity"),
      col("insurance")).distinct()

  /** One-hot static conditions (datagen.py:904-922): per stay, the set of
    * diagnosis codes as a sorted array (dense one-hot is a vocab-aligned
    * view of this at read time). */
  def staticConditions(cond: DataFrame): DataFrame =
    cond.groupBy(col("stay_id"))
      .agg(array_sort(collect_set(col("new_icd_code"))).as("codes"))
}
