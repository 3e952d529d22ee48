package graft.mimic

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Fanout, Stage}

/** End-to-end orchestration reproducing the reference's flag surface
  * (E1→E2→E3) with Parquet stage boundaries instead of csv.gz
  * (SURVEY §3). Stages write to versioned dirs under `outDir` — the
  * reference rewrites files in place (features.py:254, 275-279), which is
  * illegal for a columnar store reading its own input (SURVEY §7.4.3);
  * each cleaning pass here writes a new stage dir, preserving the
  * "hand-edit the feature list between stages" workflow.
  *
  * Every stage directory is written by the one stage body,
  * [[graft.Stage]] (without resume): each gives one `(rel, rows)`
  * record ([[records]]) from an observed write, and a stage is read
  * back with the schema it was just written with, so no read-back pays
  * a schema-inference job; the feature lists, the per-stay fan-out and
  * the vocab sidecars are sinks with no read-back.
  *
  * Independent stages run together as one [[graft.Stage.wave]]: the two
  * cleaning writes, the feature lists, the selections, the five
  * time-series grids, and then `dynamic`, the per-stay fan-out and the
  * vocab sidecars. `cohort` and `featureIcu`'s modalities are written in
  * turn. Every stage has its own directory, so the bytes on disk do not
  * depend on the overlap. Each call builds (and so analyzes) all of its
  * frames before the first write starts; a call whose writes fail waits
  * for the rest to commit, then throws the first failure in stage order,
  * later ones suppressed.
  */
final case class Pipeline(
    spark: SparkSession,
    src: MimicSource,
    mapPath: String,
    outDir: String) {

  private val stage = new Stage(spark, outDir, resume = false)

  /** The `(rel, rows)` record of every stage directory written so far,
    * in write order. */
  def records: Seq[(String, Long)] = stage.records

  /** Stage 1 — extract_data (cohort.py:444-685). */
  def cohort(useIcu: Boolean, label: String, time: Int = 30,
      diseaseLabel: Option[String] = None,
      admitDisease: Option[String] = None): DataFrame = {
    val dis = diseaseLabel.map(c => Disease.extractDiagCohort(src, mapPath, c))
    val admitDis = admitDisease.map(c => Disease.extractDiagCohort(src, mapPath, c))
    stage.one(stage("cohort", Cohort.extract(src, useIcu, label, time, dis, admitDis)))
  }

  /** Stage 2 — feature_icu (features.py:26-183): per-modality extraction. */
  def featureIcu(cohort: DataFrame, diag: Boolean = true, out: Boolean = true,
      chart: Boolean = true, proc: Boolean = true, med: Boolean = true,
      uomCutoff: Double = 0.95): Map[String, DataFrame] = {
    def one(k: String, df: => DataFrame) = k -> stage.one(stage(s"features/preproc_${k}_icu", df))
    var m = Map.empty[String, DataFrame]
    if (diag) m += one("diag",
      Features.preprocDiag(src.diagnosesIcd, cohort, src.icdMapping(mapPath)))
    if (out) m += one("out", Features.preprocEvents(src.outputevents, cohort, "charttime"))
    if (chart) m += one("chart",
      Features.dropWrongUom(Features.preprocChart(src.chartevents, cohort), uomCutoff))
    if (proc) m += one("proc", Features.preprocEvents(src.procedureevents, cohort, "starttime"))
    if (med) m += one("med", Features.preprocMeds(src.inputevents, cohort))
    m
  }

  /** Stage 3 — preprocess_features_icu + generate_summary_icu +
    * features_selection_icu (features.py:193-529). */
  def cleanFeatures(feats: Map[String, DataFrame], groupDiag: String = "convert",
      cleanChart: Boolean = true, imputeOutlier: Boolean = false,
      thresh: Int = 98, leftThresh: Int = 0): Map[String, DataFrame] = {
    val diag = feats.get("diag").map(d =>
      stage("features/v2/diag", Features.groupDiag(d, groupDiag)).map("diag" -> _))
    val chart = (if (cleanChart) feats.get("chart") else None).map(c =>
      stage("features/v2/chart",
        Features.outlierImputation(c, "itemid", "valuenum", thresh, leftThresh, imputeOutlier)
          .na.drop(Seq("valuenum"))).map("chart" -> _))
    feats ++ stage.wave(Seq(diag, chart).flatten)
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
    stage.wave(feats.toSeq.map { case (k, df) =>
      stage(s"summary/${k}_features", df.select(col(codeCol(k))).distinct(), read = Stage.sink)
    })
    feats.keys.map(k => k -> s"$outDir/summary/${k}_features").toMap
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
    feats ++ stage.wave(paths.zip(lists).map { case ((k, _), list) =>
      stage(s"features/v3/$k", Features.select(feats(k), list, codeCol(k))).map(k -> _)
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

    // a typo must fail before the first ts/ write, not run another
    // window (an unknown imputeHow fails in Datagen.impute, which is also
    // built before the first write)
    val minLos = task match {
      case "Mortality" => includeTime + predW
      case "Readmission" | "Length of Stay" | "LOS" => includeTime
      case other => throw new IllegalArgumentException(s"unknown task: $other")
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
      stage("ts/med", Datagen.medSignal(grid)).map("med" -> _)
    }
    val chart = feats.get("chart").map { f =>
      val ev = windowed(Datagen.generateEvents(f, adm), isInterval = false)
      val bucketed = Datagen.bucketEvents(ev, bucket, includeTime,
        Some(avg(col("valuenum")).as("valuenum")))
      val grid = Datagen.denseGrid(bucketed, losBuckets)
      stage("ts/chart", Datagen.impute(grid, "valuenum", imputeHow)).map("chart" -> _)
    }
    val presence = Seq("proc", "out").flatMap { k =>
      feats.get(k).map { f =>
        val ev = windowed(Datagen.generateEvents(f, adm), isInterval = false)
        val bucketed = Datagen.bucketEvents(ev, bucket, includeTime, None)
          .withColumn("present", lit(1.0))
        val grid = Datagen.denseGrid(bucketed, losBuckets)
          .na.fill(0.0, Seq("present"))
        stage(s"ts/$k", grid).map(k -> _)
      }
    }
    val cond = feats.get("diag").map { f =>
      val scoped = f.join(adm.select(col("stay_id")), Seq("stay_id"), "left_semi")
      stage("ts/cond", Datagen.staticConditions(scoped)).map("cond" -> _)
    }
    val grids = stage.wave(Seq(med, chart).flatten ++ presence ++ cond).toMap

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
    val dynamic = Option.when(wideParts.nonEmpty)(stage("ts/dynamic", Datagen.assemble(wideParts)))

    // per-stay nested artifact (the reference's dataDic pickle, S10):
    // one row per stay with itemid → time-ordered series, written
    // partitioned for O(1) single-stay reads
    val nested = grids.get("chart").map(g => stage("ts/per_stay_chart",
      Datagen.perStayNested(g, "valuenum", "chart_series"), Sinks.writePerStay, Stage.sink))

    // vocabulary sidecars (datagen.py:936-984): distinct code list per
    // modality, written next to the time-series outputs
    val vocabs = (Seq("med", "chart", "proc", "out").flatMap(k =>
      grids.get(k).map(k -> Datagen.vocab(_, "itemid"))) ++
      grids.get("cond").map(df =>
        "cond" -> Datagen.vocab(df.select(explode(col("codes")).as("code")), "code")))
      .map { case (k, v) => stage(s"ts/vocab_$k", v, Sinks.writeVocab, Stage.sink) }

    stage.wave(dynamic.toSeq ++ nested ++ vocabs)
    Map("labels" -> Datagen.labels(adm), "demo" -> Datagen.demo(adm)) ++ grids ++
      dynamic.map("dynamic" -> _.value) ++ nested.map("chart_nested" -> _.value)
  }
}
