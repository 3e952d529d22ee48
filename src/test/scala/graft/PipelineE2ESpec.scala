package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.mimic._

/** End-to-end pipeline run on the synthetic fixture tree — mirrors the
  * reference's pytest style (full upstream run + schema/shape
  * assertions, SURVEY §5) with golden values where we pinned semantics. */
class PipelineE2ESpec extends SparkSpec {

  lazy val tmpRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("mimic_e2e").toString
    Fixtures.writeTree(spark, d)
    d
  }

  test("full ICU mortality pipeline: cohort → features → summaries → time series") {
    val out = java.nio.file.Files.createTempDirectory("graft_out").toString
    val pipe = Pipeline(spark, MimicSource(spark, tmpRoot), s"$tmpRoot/icd_mapping.txt", out)

    val cohort = pipe.cohort(useIcu = true, label = "Mortality")
    assert(cohort.count() > 0)
    assert(cohort.columns.contains("label"))

    val feats = pipe.featureIcu(cohort)
    assert(feats.keySet === Set("diag", "out", "chart", "proc", "med"))
    feats.values.foreach(df => assert(df.count() > 0))
    // preproc schemas (FIXTURES.md stage schemas)
    assert(feats("chart").columns.toSet ===
      Set("itemid", "stay_id", "valuenum", "valueuom", "event_time_from_admit"))
    assert(feats("med").columns.contains("start_hours_from_admit"))

    val cleaned = pipe.cleanFeatures(feats, groupDiag = "convert",
      cleanChart = true, imputeOutlier = true, thresh = 98, leftThresh = 0)
    assert(cleaned("diag").columns.toSet ===
      Set("subject_id", "hadm_id", "stay_id", "new_icd_code"))

    val sums = pipe.summaries(cleaned)
    assert(sums("chart").columns.toSet ===
      Set("itemid", "mean_frequency", "missing_count", "total_count"))
    assert(sums("diag").columns.toSet ===
      Set("new_icd_code", "mean_frequency", "total_count"))

    val ts = pipe.timeSeries(cohort, cleaned, task = "Mortality",
      includeTime = 24, bucket = 1, predW = 6, imputeHow = "Mean")
    assert(ts.contains("dynamic") && ts.contains("labels") && ts.contains("demo"))
    val dyn = ts("dynamic")
    // stay 11 (los 76h >= 30) survives; per-(stay,t) rows bounded by include_time
    assert(dyn.select(col("stay_id")).distinct().count() >= 1)
    assert(dyn.agg(max(col("t"))).head.getLong(0) < 24)
    // chart map column carries itemid→value entries
    val m = ts("chart")
    assert(m.filter(col("valuenum").isNull).count() === 0) // imputed
  }

  test("three-task golden run: cohort→features→clean→lists→selection→timeSeries") {
    // Mortality / Readmission / LOS through EVERY pipeline stage incl.
    // the featureSelection round-trip (VERDICT r4 item 6). LOS threshold
    // 2 days so the 76 h fixture stay labels positive.
    for (task <- Seq("Mortality", "Readmission", "Length of Stay")) {
      val out = java.nio.file.Files.createTempDirectory(s"graft_3task").toString
      val pipe = Pipeline(spark, MimicSource(spark, tmpRoot), s"$tmpRoot/icd_mapping.txt", out)
      val cohort = pipe.cohort(useIcu = true, label = task,
        time = if (task == "Length of Stay") 2 else 30)
      val nCohort = cohort.count()
      assert(nCohort > 0, s"$task cohort empty")
      assert(cohort.columns.contains("label"))

      val feats = pipe.featureIcu(cohort)
      val cleaned = pipe.cleanFeatures(feats, groupDiag = "convert",
        cleanChart = true, imputeOutlier = false, thresh = 98, leftThresh = 0)
      val chartRows = cleaned("chart").count()
      assert(chartRows > 0, s"$task cleaned chart empty")

      // stage 3: write per-modality vocab lists; unedited selection is a
      // row-preserving no-op
      val lists = pipe.writeFeatureLists(cleaned)
      assert(lists.keySet === cleaned.keySet)
      val unedited = pipe.featureSelection(cleaned)
      assert(unedited("chart").count() === chartRows,
        s"$task unedited selection must not drop rows")

      // edit the chart list down to ONE itemid (the most frequent, so
      // the time-series window still sees events) → selection must shrink
      val keptId = cleaned("chart").groupBy(col("itemid"))
        .agg(count(lit(1)).as("n")).orderBy(col("n").desc, col("itemid").asc)
        .head.getLong(0)
      import spark.implicits._
      Seq(keptId).toDF("itemid").write.mode("overwrite").parquet(lists("chart"))
      val selected = pipe.featureSelection(cleaned)
      val selRows = selected("chart").count()
      assert(selRows > 0 && selRows < chartRows,
        s"$task edited selection should shrink chart ($chartRows -> $selRows)")
      assert(selected("chart").select(col("itemid")).distinct().count() === 1)
      assert(selected("chart").filter(col("itemid") =!= keptId).count() === 0)

      val ts = pipe.timeSeries(cohort, selected, task = task,
        includeTime = 24, bucket = 1, predW = 6, imputeHow = "Mean")
      assert(Set("dynamic", "labels", "demo").subsetOf(ts.keySet), s"$task ts keys")
      assert(ts("labels").count() > 0, s"$task labels empty")
      // the dense grid never exceeds the include window (empty chart is
      // legal when the kept itemid has no in-window events for a task)
      val maxT = ts("chart").agg(max(col("t"))).head
      if (!maxT.isNullAt(0)) assert(maxT.getLong(0) < 24)
      // every chart row in the time series carries only the kept itemid
      assert(ts("chart").filter(col("itemid") =!= keptId).count() === 0)
    }
  }

  test("every stage frame Pipeline returns carries its directory's own schema and rows") {
    val out = java.nio.file.Files.createTempDirectory("graft_readback").toString
    val pipe = Pipeline(spark, MimicSource(spark, tmpRoot), s"$tmpRoot/icd_mapping.txt", out)
    val cohort = pipe.cohort(useIcu = true, label = "Mortality")
    val feats = pipe.featureIcu(cohort)
    val cleaned = pipe.cleanFeatures(feats, imputeOutlier = true)
    pipe.writeFeatureLists(cleaned)
    val selected = pipe.featureSelection(cleaned)
    val ts = pipe.timeSeries(cohort, selected, task = "Mortality", imputeHow = "Mean")
    val returned = Seq("cohort" -> cohort) ++
      feats.toSeq.map { case (k, df) => s"features/preproc_${k}_icu" -> df } ++
      Seq("diag", "chart").map(k => s"features/v2/$k" -> cleaned(k)) ++
      selected.toSeq.map { case (k, df) => s"features/v3/$k" -> df } ++
      Seq("med", "chart", "proc", "out", "cond", "dynamic").map(k => s"ts/$k" -> ts(k))

    // every committed directory is a returned stage or a sink with no frame
    val root = java.nio.file.Paths.get(out)
    val written = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS")
        .map(p => root.relativize(p.getParent).toString).toSet
      finally w.close()
    }
    val sinks = written.filter(r =>
      r.startsWith("summary/") || r.startsWith("ts/vocab_") || r == "ts/per_stay_chart")
    assert(sinks.size === 5 + 1 + 5)
    assert(written -- sinks === returned.map(_._1).toSet)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    returned.foreach { case (rel, df) =>
      val disk = spark.read.parquet(s"$out/$rel")
      assert(df.schema === disk.schema, rel)
      assert(rows(df) === rows(disk), rel)
    }

    // every directory, sinks included, is written through graft.Stage:
    // one record per directory, its rows those on disk
    assert(written.size === 30)
    assert(pipe.records.map(_._1).sorted === written.toSeq.sorted)
    pipe.records.foreach { case (rel, n) =>
      val disk =
        if (rel.startsWith("ts/vocab_")) spark.read.option("header", "true").csv(s"$out/$rel")
        else spark.read.parquet(s"$out/$rel")
      assert(disk.count() === n, rel)
    }
  }

  test("timeSeries rejects an unknown task or imputeHow before any ts/ directory exists") {
    val out = java.nio.file.Files.createTempDirectory("graft_badts").toString
    val pipe = Pipeline(spark, MimicSource(spark, tmpRoot), s"$tmpRoot/icd_mapping.txt", out)
    val cohort = pipe.cohort(useIcu = true, label = "Mortality")
    val feats = pipe.featureIcu(cohort)
    Seq("mortality" -> "Mean", "Mortality" -> "mean", "LOS" -> "Mode").foreach {
      case (task, how) =>
        intercept[IllegalArgumentException] {
          pipe.timeSeries(cohort, feats, task = task, imputeHow = how)
        }
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/ts")), s"$task/$how")
    }
  }

  test("readmission task produces end-aligned windows") {
    val out = java.nio.file.Files.createTempDirectory("graft_out2").toString
    val pipe = Pipeline(spark, MimicSource(spark, tmpRoot), s"$tmpRoot/icd_mapping.txt", out)
    val cohort = pipe.cohort(useIcu = true, label = "Readmission", time = 30)
    assert(cohort.filter(col("label") === 1).count() >= 1)
    val feats = pipe.featureIcu(cohort, diag = false, out = false, chart = true,
      proc = false, med = false)
    val ts = pipe.timeSeries(cohort, feats, task = "Readmission", includeTime = 24)
    // stay 11 (los 76h): only the late events (hours 60, 70) survive the
    // end-aligned shift — at t = 60-52 = 8 and 70-52 = 18
    val t11 = ts("chart").filter(col("stay_id") === 11 && col("valuenum").isNotNull)
    // dense grid carries all 24 buckets; the observed (pre-impute) values
    // land at shifted offsets < 24
    assert(ts("chart").agg(max(col("t"))).head.getLong(0) < 24)
    assert(t11.count() > 0)
  }
}
