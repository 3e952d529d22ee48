package graft.mimic

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fanout

/** End-to-end orchestration reproducing the reference's flag surface
  * (E1→E2→E3) with Parquet stage boundaries instead of csv.gz
  * (SURVEY §3). Stages write to versioned dirs under `outDir` — the
  * reference rewrites files in place (features.py:254, 275-279), which is
  * illegal for a columnar store reading its own input (SURVEY §7.4.3);
  * each cleaning pass here writes a new stage dir, preserving the
  * "hand-edit the feature list between stages" workflow.
  *
  * Independent stage writes run together through [[graft.Fanout]]: the
  * two cleaning writes, the feature lists, the selections, the five
  * time-series grids, and then `dynamic`, the per-stay fan-out and the
  * vocab sidecars (`featureIcu` still writes its modalities in turn). Every such write has its own
  * directory, so the bytes on disk do not depend on the overlap. Each
  * call builds (and so analyzes) all of its frames before the first
  * write starts; a call whose writes fail waits for the rest to commit,
  * then throws the first failure in stage order, later ones suppressed.
  * Each stage is read back with the schema it was just written with, so
  * no read-back pays a schema-inference job.
  */
final case class Pipeline(
    spark: SparkSession,
    src: MimicSource,
    mapPath: String,
    outDir: String) {

  private def write(df: DataFrame, rel: String): DataFrame = {
    val p = s"$outDir/$rel"
    df.write.mode("overwrite").parquet(p)
    spark.read.schema(df.schema).parquet(p)
  }

  /** Writes every `(key, frame, rel)` stage together; key → read-back. */
  private def writeAll(stages: Seq[(String, DataFrame, String)]): Map[String, DataFrame] =
    stages.map(_._1).zip(Fanout.all(spark)(stages.map { case (_, df, rel) =>
      rel -> (() => write(df, rel))
    })).toMap

  /** Stage 1 — extract_data (cohort.py:444-685). */
  def cohort(useIcu: Boolean, label: String, time: Int = 30,
      diseaseLabel: Option[String] = None,
      admitDisease: Option[String] = None): DataFrame = {
    val dis = diseaseLabel.map(c => Disease.extractDiagCohort(src, mapPath, c))
    val admitDis = admitDisease.map(c => Disease.extractDiagCohort(src, mapPath, c))
    write(Cohort.extract(src, useIcu, label, time, dis, admitDis), "cohort")
  }

  /** Stage 2 — feature_icu (features.py:26-183): per-modality extraction. */
  def featureIcu(cohort: DataFrame, diag: Boolean = true, out: Boolean = true,
      chart: Boolean = true, proc: Boolean = true, med: Boolean = true,
      uomCutoff: Double = 0.95): Map[String, DataFrame] = {
    var m = Map.empty[String, DataFrame]
    if (diag) m += "diag" -> write(
      Features.preprocDiag(src.diagnosesIcd, cohort, src.icdMapping(mapPath)),
      "features/preproc_diag_icu")
    if (out) m += "out" -> write(
      Features.preprocEvents(src.outputevents, cohort, "charttime"),
      "features/preproc_out_icu")
    if (chart) m += "chart" -> write(
      Features.dropWrongUom(Features.preprocChart(src.chartevents, cohort), uomCutoff),
      "features/preproc_chart_icu")
    if (proc) m += "proc" -> write(
      Features.preprocEvents(src.procedureevents, cohort, "starttime"),
      "features/preproc_proc_icu")
    if (med) m += "med" -> write(
      Features.preprocMeds(src.inputevents, cohort),
      "features/preproc_med_icu")
    m
  }

  /** Stage 3 — preprocess_features_icu + generate_summary_icu +
    * features_selection_icu (features.py:193-529). */
  def cleanFeatures(feats: Map[String, DataFrame], groupDiag: String = "convert",
      cleanChart: Boolean = true, imputeOutlier: Boolean = false,
      thresh: Int = 98, leftThresh: Int = 0): Map[String, DataFrame] = {
    val diag = feats.get("diag").map(d =>
      ("diag", Features.groupDiag(d, groupDiag), "features/v2/diag"))
    val chart = (if (cleanChart) feats.get("chart") else None).map(c => ("chart",
      Features.outlierImputation(c, "itemid", "valuenum", thresh, leftThresh, imputeOutlier)
        .na.drop(Seq("valuenum")),
      "features/v2/chart"))
    feats ++ writeAll(Seq(diag, chart).flatten)
  }

  private def codeCol(k: String) = if (k == "diag") "new_icd_code" else "itemid"

  /** Stage 3.5 — features_selection (features.py:394-529): the reference
    * writes each modality's feature list to disk, lets the user hand-edit
    * it (drop rows to drop features), then re-reads the possibly-edited
    * list and semi-join-filters the modality. Split in two so the
    * hand-edit can happen between the calls — the reference's exact
    * workflow, with Parquet in place of its in-place CSV rewrite.
    *
    * `writeFeatureLists` persists the current per-modality distinct code
    * list under `outDir/summary/<modality>_features`.
    */
  def writeFeatureLists(feats: Map[String, DataFrame]): Map[String, String] = {
    val lists = feats.toSeq.map { case (k, df) =>
      (k, df.select(col(codeCol(k))).distinct(), s"$outDir/summary/${k}_features")
    }
    Fanout.all(spark)(lists.map { case (_, list, p) =>
      p -> (() => list.write.mode("overwrite").parquet(p))
    })
    lists.map { case (k, _, p) => k -> p }.toMap
  }

  /** `featureSelection` re-reads whatever list is on disk NOW (it may
    * have been edited since `writeFeatureLists`) and filters each
    * modality through it (Features.select, J9), writing a new stage
    * version. Modalities without a list on disk pass through unchanged —
    * same as the reference's per-flag `select_<mod>` switches.
    */
  def featureSelection(feats: Map[String, DataFrame]): Map[String, DataFrame] = {
    val paths = feats.keys.toSeq.map(k => k -> s"$outDir/summary/${k}_features")
      .filter { case (_, p) => graft.Fs.exists(spark, p) }
    // a list may be hand-edited, so its schema is read, not assumed: one
    // inference job per list, run together
    val lists = Fanout.all(spark)(paths.map { case (_, p) => p -> (() => spark.read.parquet(p)) })
    feats ++ writeAll(paths.zip(lists).map { case ((k, _), list) =>
      (k, Features.select(feats(k), list, codeCol(k)), s"features/v3/$k")
    })
  }

  /** generate_summary_icu (features.py:285-391). */
  def summaries(feats: Map[String, DataFrame]): Map[String, DataFrame] =
    feats.map {
      case ("diag", d) => "diag" -> Features.summary(d, "new_icd_code", None)
      case ("med", d) => "med" -> Features.summary(d, "itemid", Some(col("amount") === 0))
      case ("chart", d) => "chart" -> Features.summary(d, "itemid", Some(col("valuenum") === 0))
      case (k, d) => k -> Features.summary(d, "itemid", None)
    }

  /** Stage 4 — ICUDataGenerator (datagen.py:16-988) for one task. */
  def timeSeries(cohortDf: DataFrame, feats: Map[String, DataFrame],
      task: String, includeTime: Int = 24, bucket: Int = 1, predW: Int = 6,
      imputeHow: String = ""): Map[String, DataFrame] = {
    val adm0 = Datagen.generateAdm(cohortDf)

    val minLos = task match {
      case "Mortality" => includeTime + predW
      case _ => includeTime
    }
    val adm = adm0.filter(col("los") >= minLos)

    def windowed(df: DataFrame, isInterval: Boolean): DataFrame = task match {
      case "Readmission" => Datagen.endWindow(df, adm, includeTime, isInterval)
      case _ => Datagen.frontWindow(df, adm, includeTime, isInterval)
    }

    val losBuckets = includeTime / bucket

    // wave 1: the five per-modality grids
    val med = feats.get("med").map { f =>
      val meds = windowed(Datagen.generateMeds(f, adm), isInterval = true)
      val bucketed = Datagen.bucketMeds(meds, bucket, includeTime)
      // grid keyed per ORDER: medSignal's ffill window partitions by
      // (stay, itemid, orderid) — a grid keyed only (stay, itemid) would
      // put filler rows in a NULL-orderid partition that never fills
      val grid = Datagen.denseGrid(bucketed, losBuckets,
        keys = Seq("stay_id", "itemid", "orderid"))
      ("med", Datagen.medSignal(grid), "ts/med")
    }
    val chart = feats.get("chart").map { f =>
      val ev = windowed(Datagen.generateEvents(f, adm), isInterval = false)
      val bucketed = Datagen.bucketEvents(ev, bucket, includeTime,
        Some(avg(col("valuenum")).as("valuenum")))
      val grid = Datagen.denseGrid(bucketed, losBuckets)
      ("chart", Datagen.impute(grid, "valuenum", imputeHow), "ts/chart")
    }
    val presence = Seq("proc", "out").flatMap { k =>
      feats.get(k).map { f =>
        val ev = windowed(Datagen.generateEvents(f, adm), isInterval = false)
        val bucketed = Datagen.bucketEvents(ev, bucket, includeTime, None)
          .withColumn("present", lit(1.0))
        val grid = Datagen.denseGrid(bucketed, losBuckets)
          .na.fill(0.0, Seq("present"))
        (k, grid, s"ts/$k")
      }
    }
    val cond = feats.get("diag").map { f =>
      val scoped = f.join(adm.select(col("stay_id")), Seq("stay_id"), "left_semi")
      ("cond", Datagen.staticConditions(scoped), "ts/cond")
    }
    val grids = writeAll(Seq(med, chart).flatten ++ presence ++ cond)

    // wave 2, over wave 1's read-backs. Wide dynamic matrix: one row per
    // (stay, t), MapType per modality (U4). Med rates collapse per itemid
    // FIRST (avg over concurrently-active orders — pandas pivot_table's
    // default mean over duplicate cells); two orders of one itemid at the
    // same t would otherwise be duplicate map keys, which
    // map_from_entries rejects at runtime.
    val medPerItem = grids.get("med").map(_
      .groupBy(col("stay_id"), col("t"), col("itemid"))
      .agg(avg(col("rate")).as("rate")))
    val wideParts = Seq(
      grids.get("chart").map(Datagen.wideModality(_, "valuenum", "chart")),
      grids.get("proc").map(Datagen.wideModality(_, "present", "proc")),
      grids.get("out").map(Datagen.wideModality(_, "present", "out")),
      medPerItem.map(Datagen.wideModality(_, "rate", "med_rate"))).flatten
    val dynamic = Option.when(wideParts.nonEmpty)(Datagen.assemble(wideParts))

    // per-stay nested artifact (the reference's dataDic pickle, S10):
    // one row per stay with itemid → time-ordered series, written
    // partitioned for O(1) single-stay reads
    val nested = grids.get("chart").map(Datagen.perStayNested(_, "valuenum", "chart_series"))

    // vocabulary sidecars (datagen.py:936-984): distinct code list per
    // modality, written next to the time-series outputs
    val vocabs = Seq("med", "chart", "proc", "out").flatMap(k =>
      grids.get(k).map(k -> Datagen.vocab(_, "itemid"))) ++
      grids.get("cond").map(df =>
        "cond" -> Datagen.vocab(df.select(explode(col("codes")).as("code")), "code"))

    val dynamicDir = s"$outDir/ts/dynamic"
    val wave2 = dynamic.map(d =>
      "ts/dynamic" -> (() => d.write.mode("overwrite").parquet(dynamicDir))) ++
      nested.map(n => "ts/per_stay_chart" ->
        (() => Sinks.writePerStay(n, s"$outDir/ts/per_stay_chart"))) ++
      vocabs.map { case (k, v) => s"ts/vocab_$k" ->
        (() => Sinks.writeVocab(v, s"$outDir/ts/vocab_$k")) }
    Fanout.all(spark)(wave2.toSeq)

    Map("labels" -> Datagen.labels(adm), "demo" -> Datagen.demo(adm)) ++ grids ++
      dynamic.map(d => "dynamic" -> spark.read.schema(d.schema).parquet(dynamicDir)) ++
      nested.map("chart_nested" -> _)
  }
}
