package graft.mimic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** Stage-2/3 feature extraction and cleaning — the Spark-first rewrite of
  * feature_preproc_icu.py + icu_preprocess_util.py + uom_conversion.py +
  * outlier_removal.py (SURVEY E2).
  *
  * Every extractor is one read→broadcast-join→derive→filter DAG; the
  * reference's 10M-row chunked scans (icuutil.py:280-338) disappear —
  * partitioned execution replaces manual out-of-core loops (SURVEY S4).
  */
object Features {

  /** preproc_meds (icu_preprocess_util.py:155-187): inputevents ⋈ cohort
    * on stay_id, start/stop hour offsets from intime (§2.4 floor
    * semantics), dropna over all columns (reference `med.dropna()` drops
    * null rate/amount rows too).
    */
  def preprocMeds(inputevents: DataFrame, cohort: DataFrame): DataFrame = {
    val adm = cohort.select(col("hadm_id"), col("stay_id"), col("intime"))
    inputevents.join(broadcast(adm), Seq("stay_id"), "inner")
      .withColumn("start_hours_from_admit", ColFns.tdHours(col("starttime"), col("intime")))
      .withColumn("stop_hours_from_admit", ColFns.tdHours(col("endtime"), col("intime")))
      .na.drop()
  }

  /** preproc_proc / preproc_out (icu_preprocess_util.py:190-277): events ⋈
    * cohort on stay_id + event_time_from_admit hour offset, dropna.
    * `timeCol` is starttime (proc) or charttime (out).
    */
  def preprocEvents(events: DataFrame, cohort: DataFrame, timeCol: String): DataFrame = {
    val adm = cohort.select(col("stay_id"), col("intime"), col("outtime"))
    events.dropDuplicates()
      .join(broadcast(adm), Seq("stay_id"), "inner")
      .withColumn("event_time_from_admit", ColFns.tdHours(col(timeCol), col("intime")))
      .na.drop()
  }

  /** preproc_chart (icu_preprocess_util.py:280-338): null valuenum dropped
    * FIRST (per-chunk in the reference), then cohort join, offset, dedup.
    * No chunk loop: Spark partitions the scan (SURVEY S4).
    */
  def preprocChart(chartevents: DataFrame, cohort: DataFrame): DataFrame = {
    val adm = cohort.select(col("stay_id"), col("intime"))
    chartevents.na.drop(Seq("valuenum"))
      .join(broadcast(adm), Seq("stay_id"), "inner")
      .withColumn("event_time_from_admit", ColFns.tdHours(col("charttime"), col("intime")))
      .drop("charttime", "intime")
      .na.drop()
      .dropDuplicates()
  }

  /** preproc_icd_module diag path (icu_preprocess_util.py:341-428 via
    * feature_preproc_icu.py:74-79): diagnoses ⋈ cohort on hadm_id, then
    * ICD9→10 standardization. */
  def preprocDiag(diagnoses: DataFrame, cohort: DataFrame, mapping: DataFrame): DataFrame = {
    val scoped = diagnoses.join(
      cohort.select(col("hadm_id"), col("stay_id")), Seq("hadm_id"), "inner")
    Disease.standardizeIcd(mapping, scoped)
  }

  /** Diag grouping choice (feature_preproc_icu.py:245-258):
    * "both" keeps icd_code, "convert" the ICD10 conversion,
    * "convert_group" its 3-char root; then project + dropna. */
  def groupDiag(diag: DataFrame, groupOption: String): DataFrame = {
    val newCode = groupOption match {
      case "both" => col("icd_code")
      case "convert" => col("root_icd10_convert")
      case "convert_group" => col("root")
      case other => throw new IllegalArgumentException(s"invalid group_diag: $other")
    }
    diag.select(col("subject_id"), col("hadm_id"), col("stay_id"),
      newCode.as("new_icd_code")).na.drop()
  }

  /** drop_wrong_uom (uom_conversion.py:9-26, cutoff 0.95 at
    * feature_preproc_icu.py:123): per itemid, if >1 distinct UOM and the
    * majority UOM's share of ALL rows exceeds the cutoff, keep only
    * majority rows (null-UOM rows drop too — pandas `values !=
    * most_frequent` is true for NaN). Pandas' first-seen tie-break is
    * nondeterministic under parallel scan; ties break by (count desc,
    * uom asc) — SURVEY §7.4.2, decided once and tested.
    *
    * q29_uom_clean's shape: ONE count per (itemid, UOM) — null UOM
    * included — rolled up per itemid, where min(struct(-cnt, uom)) over
    * the non-null UOMs IS the (count desc, uom asc) rank-1 row (struct
    * order is lexicographic), count(uom) the distinct non-null UOMs and
    * sum(cnt) every row; then one broadcast join. The stats side is
    * |itemids| rows, so the event side never shuffles.
    */
  def dropWrongUom(df: DataFrame, cutOff: Double): DataFrame = {
    val stats = df.groupBy(col("itemid"), col("valueuom")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("itemid"))
      .agg(min(when(col("valueuom").isNotNull,
          struct((-col("cnt")).as("neg"), col("valueuom").as("uom")))).as("m"),
        count(col("valueuom")).as("n_uoms"), sum(col("cnt")).as("n_obs"))
      .select(col("itemid"), col("m.uom").as("mode_uom"), (-col("m.neg")).as("mode_cnt"),
        col("n_uoms"), col("n_obs"))
    df.join(broadcast(stats), Seq("itemid"), "left")
      // the reference only drops rows when value_counts.size > 1, so an
      // all-null-UOM itemid (n_uoms = 0) keeps every row; n_uoms NULL =
      // a null itemid, which no stats row matches (null-safe first
      // disjunct — without it all disjuncts are null and the rows vanish)
      .filter(col("n_uoms").isNull || col("n_uoms") <= 1 ||
        col("mode_cnt").cast("double") / col("n_obs").cast("double") <= cutOff ||
        col("valueuom") === col("mode_uom"))
      .drop("mode_uom", "mode_cnt", "n_uoms", "n_obs")
  }

  /** outlier_imputation (outlier_removal.py:11-37): per-group exact
    * percentiles (numpy 'linear' interpolation lo + f·(hi-lo), computed
    * by the histogram-guided
    * [[graft.functions.ColFns.histPercentilesByKey]] — one map-side-
    * combinable counting pass, then only target-bucket slivers sort;
    * Spark's `percentile` aggregate buffers every group value in one
    * in-memory map, an OOM at 100 TB itemid group sizes, and the
    * window-rank shape single-tasks a hot itemid's full sort), then
    *  - impute=true: sequential masked writes collapse to
    *    min(max(v, perc_up), perc_down)
    *  - impute=false: keep rows with perc_up <= v <= perc_down.
    * The left join preserves all-null groups: null bounds pass values
    * through under least/greatest and drop rows under the filter,
    * matching the aggregate's null-bound behavior.
    * QUIRK PRESERVED (SURVEY §7.4.6): perc_up := percentile(leftThresh),
    * perc_down := percentile(cutOff) — the reference's tested config
    * (thresh=5, left_thresh=95) inverts the band on purpose; we reproduce
    * the formula, not a sanitized version.
    */
  def outlierImputation(
      df: DataFrame, idCol: String, valueCol: String,
      cutOff: Int, leftThresh: Int, impute: Boolean): DataFrame = {
    val pct = graft.functions.ColFns.percentilesByKeyAdaptive(df, idCol, valueCol,
      Seq("_perc_up" -> leftThresh / 100.0, "_perc_down" -> cutOff / 100.0))
    val joined = df.join(broadcast(pct), Seq(idCol), "left")
    val cleaned =
      if (impute)
        joined.withColumn(valueCol,
          least(greatest(col(valueCol), col("_perc_up")), col("_perc_down")))
      else
        joined.filter(col(valueCol) >= col("_perc_up") && col(valueCol) <= col("_perc_down"))
    cleaned.drop("_perc_up", "_perc_down")
  }

  /** generate_summary_icu per-modality summary
    * (feature_preproc_icu.py:285-391): mean-of-per-stay-counts, optional
    * zero-value missing count, total count. One scan, no join: the
    * reference's three groupbys + right join collapse into one
    * per-(stay, code) aggregation rolled up per code, since the per-code
    * totals are sums of the per-stay partials (SURVEY A1-A3/J8). Both
    * levels aggregate partially before their exchange, so a hot code
    * ships partial counts, never its raw rows. `missingWhen` e.g.
    * col("amount")===0.
    */
  def summary(df: DataFrame, codeCol: String, missingWhen: Option[Column]): DataFrame = {
    val miss = missingWhen.map(c => sum(when(c, 1L).otherwise(0L)).as("miss")).toSeq
    val aggs = Seq(avg(col("cnt")).as("mean_frequency"), sum(col("cnt")).as("total_count")) ++
      miss.map(_ => sum(col("miss")).as("missing_count"))
    df.groupBy(col("stay_id"), col(codeCol)).agg(count(lit(1)).as("cnt"), miss: _*)
      .groupBy(col(codeCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** features_selection_icu (feature_preproc_icu.py:394-529): semi-join
    * against the (possibly hand-edited) feature whitelist (SURVEY J9). */
  def select(df: DataFrame, features: DataFrame, codeCol: String): DataFrame =
    df.join(broadcast(features.select(col(codeCol))), Seq(codeCol), "left_semi")

  /** pivot_cohort (icu_preprocess_util.py:431-491 — defined-but-unused
    * API surface, SURVEY §2.10): generic long→wide pivot with optional
    * top-K feature restriction (value_counts[:max_features], W5/J12,
    * count-desc/code-asc deterministic ties) and a one-hot mode
    * (`agg max(1)`) standing in for the MultiLabelBinarizer branch
    * (:448-466). The pivot vocabulary is computed first and passed in, so
    * the column set is deterministic (SURVEY §7.4.4).
    */
  def pivotCohort(df: DataFrame, indexCol: String, featureCol: String,
      valueCol: String, maxFeatures: Option[Int] = None,
      oneHot: Boolean = false): DataFrame =
    pivotTopK(df, Seq(indexCol), featureCol, maxFeatures,
      if (oneHot) max(lit(1)) else avg(col(valueCol)))

  /** The pivot tail of [[pivotCohort]] and [[pivotCohortMlb]]: rank
    * `featureCol` values by row count (count desc, value asc), keep the
    * top `maxFeatures`, pin the vocabulary (sorted by its string form,
    * so the column set is deterministic), semi-join the rows to it when
    * it is capped, then pivot per `indexCols` with `agg`, missing
    * cells 0. */
  private def pivotTopK(df: DataFrame, indexCols: Seq[String], featureCol: String,
      maxFeatures: Option[Int], agg: Column): DataFrame = {
    val ranked = df.groupBy(col(featureCol)).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col(featureCol).asc)
    val kept = maxFeatures.map(k => ranked.limit(k)).getOrElse(ranked)
    val vocab = kept.select(col(featureCol)).collect().map(_.get(0).toString).toSeq.sorted
    val scoped =
      if (maxFeatures.isEmpty) df
      else df.join(broadcast(kept.select(col(featureCol))), Seq(featureCol), "left_semi")
    scoped.groupBy(indexCols.map(col): _*)
      .pivot(featureCol, vocab)
      .agg(agg)
      .na.fill(0)
  }

  /** pivot_cohort's MultiLabelBinarizer branch (icu_preprocess_util.py:
    * 448-466): the target column holds PYTHON-LITERAL LIST strings
    * (`"['A', 'B']"`, parsed there by ast.literal_eval + MLB one-hot).
    * Spark-first twin: normalize the literal to JSON and `from_json` it
    * to array<string>, explode the per-row label SET (MLB binarizes per
    * row, so an in-row duplicate counts once — array_distinct), rank
    * labels by row frequency (= MLB column sum) desc with label-asc
    * deterministic ties, then a pinned-vocab one-hot pivot
    * (`max(lit(1))`, the :461-466 pivot_table np.max). The vocabulary
    * collect is bounded by maxFeatures — same justification as
    * `pivotCohort`.
    *
    * Parsing: ast.literal_eval accepts labels containing apostrophes
    * (Python reprs them double-quoted: `["Alzheimer's"]`), so a naive
    * '→" swap yields invalid JSON and from_json silently nulls the row.
    * Instead we strip the outer `[` `]` plus the first/last quote, then
    * split on the quote-comma-quote element boundary `['"]\s*,\s*['"]` —
    * interior apostrophes and commas survive, and split never returns
    * null on non-null input, so no row can vanish silently. (A label
    * containing the literal three-char sequence quote-comma-quote would
    * still mis-split — not representable in the reference's ICD vocab.)
    */
  def pivotCohortMlb(df: DataFrame, indexCols: Seq[String], listCol: String,
      maxFeatures: Option[Int] = None): DataFrame = {
    val long = df.na.drop(Seq(listCol))
      .withColumn("_label", explode(array_distinct(transform(
        split(
          regexp_replace(
            regexp_replace(trim(col(listCol)), "^\\[\\s*['\"]?", ""),
            "['\"]?\\s*\\]$", ""),
          "['\"]\\s*,\\s*['\"]"),
        x => trim(x)))))
      .filter(length(col("_label")) > 0)
      .select((indexCols.map(col) :+ col("_label")): _*)
    pivotTopK(long, indexCols, "_label", maxFeatures, max(lit(1)))
  }
}
