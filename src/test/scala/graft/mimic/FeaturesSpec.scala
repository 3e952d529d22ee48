package graft.mimic

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Feature-stage semantics: ICD mapping determinism, UOM cleaner ratio
  * cases, outlier clip/drop (incl. the reference's inverted-threshold
  * quirk), summary folding. */
class FeaturesSpec extends SparkSpec {

  test("standardizeIcd: first mapping match in file order wins; no-match → null") {
    val std = Disease.standardizeIcd(
      Fixtures.icdMapping(spark), Fixtures.diagnosesIcd(spark))
    val byCode = std.select(col("icd_code"), col("root_icd10_convert"), col("root"))
      .collect().map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
    val m = byCode.groupBy(_._1).view.mapValues(_.head).toMap
    assert(m("4280")._2 === Some("I50.9")) // line 0 beats line 1's I50.1
    assert(m("9999")._2 === None)          // no mapping → null (np.nan)
    assert(m("I509")._2 === Some("I509"))  // ICD10 passthrough
    assert(m("4280")._3 === Some("I50"))   // root of converted
  }

  test("extractDiagCohort: hadm_ids whose converted root contains the code") {
    val tmp = java.nio.file.Files.createTempDirectory("mimic").toString
    Fixtures.writeTree(spark, tmp)
    val src = MimicSource(spark, tmp)
    val hids = Disease.extractDiagCohort(src, s"$tmp/icd_mapping.txt", "I50")
      .collect().map(_.getLong(0)).toSet
    assert(hids === Set(101L, 102L, 501L))
  }

  test("dropWrongUom: majority above cutoff drops minority; below keeps all") {
    val cohort = Fixtures.icustays(spark)
    val chart = Features.preprocChart(Fixtures.chartevents(spark), cohort)
    val cleaned = Features.dropWrongUom(chart, 0.95)
    // itemid 700: 23/24 'mg' (0.958 > 0.95) → the 1 'mL' row drops
    assert(cleaned.filter(col("itemid") === 700).count() === 23)
    // itemid 701: 3/5 = 0.6 <= 0.95 → all kept
    assert(cleaned.filter(col("itemid") === 701).count() === 5)
    // itemid 702: single UOM → untouched (null valuenum row already dropped)
    assert(cleaned.filter(col("itemid") === 702).count() ===
      chart.filter(col("itemid") === 702).count())

    // null-UOM rules on in-memory (itemid, valueuom) rows
    import spark.implicits._
    def kept(rows: Seq[(Long, String)], cut: Double): Seq[Option[String]] =
      Features.dropWrongUom(rows.toDF("itemid", "valueuom"), cut)
        .collect().map(r => Option(r.getString(1))).toSeq.sorted
    // 97/99 'mg' > 0.95 with two UOMs: the 'mL' row AND the null-UOM row drop
    val above = Seq.fill(97)((1L, "mg")) ++ Seq((1L, "mL"), (1L, null: String))
    assert(kept(above, 0.95) === Seq.fill(97)(Some("mg")))
    // every UOM null: no majority to enforce, every row is kept
    assert(kept(Seq.fill(3)((2L, null: String)), 0.95) === Seq.fill(3)(None))
    // count tie (2 'b' vs 2 'a', share 0.5 > 0.4): the ascending UOM wins
    val tie = Seq((3L, "b"), (3L, "b"), (3L, "a"), (3L, "a"))
    assert(kept(tie, 0.4) === Seq(Some("a"), Some("a")))
  }

  test("outlierImputation impute=true clips to [p_low, p_high] band") {
    import spark.implicits._
    val df = (1 to 100).map(i => (1L, i.toDouble)).toDF("itemid", "valuenum")
    // sane orientation: cut_off=95 (upper), left_thresh=5 (lower)
    val clipped = Features.outlierImputation(df, "itemid", "valuenum", 95, 5, impute = true)
    val vals = clipped.select(col("valuenum")).collect().map(_.getDouble(0))
    // np.percentile([1..100], 5) = 5.95, 95 → 95.05
    assert(math.abs(vals.min - 5.95) < 1e-9)
    assert(math.abs(vals.max - 95.05) < 1e-9)
    assert(vals.length === 100)
  }

  test("outlierImputation QUIRK: reference's tested arg order collapses the band") {
    import spark.implicits._
    val df = (1 to 100).map(i => (1L, i.toDouble)).toDF("itemid", "valuenum")
    // thresh=5, left_thresh=95 (the reference test config):
    // perc_up=p95, perc_down=p5 → min(max(v,p95),p5) = p5 for every row
    val clipped = Features.outlierImputation(df, "itemid", "valuenum", 5, 95, impute = true)
    val vals = clipped.select(col("valuenum")).collect().map(_.getDouble(0)).distinct
    assert(vals.length === 1 && math.abs(vals.head - 5.95) < 1e-9)
  }

  test("outlierImputation impute=false drops rows outside the band") {
    import spark.implicits._
    val df = (1 to 100).map(i => (1L, i.toDouble)).toDF("itemid", "valuenum")
    val kept = Features.outlierImputation(df, "itemid", "valuenum", 95, 5, impute = false)
      .select(col("valuenum")).collect().map(_.getDouble(0))
    assert(kept.length === 90) // 6..95 survive the [5.95, 95.05] band
    assert(kept.min >= 5.95 && kept.max <= 95.05)
  }

  test("summary folds freq/missing/total (A1-A3+J8)") {
    import spark.implicits._
    val df = Seq(
      (11L, 600L, 0.0), (11L, 600L, 2.0), (12L, 600L, 4.0),
      (11L, 601L, 0.0))
      .toDF("stay_id", "itemid", "amount")
    val s = Features.summary(df, "itemid", Some(col("amount") === 0))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("mean_frequency"), r.getAs[Long]("missing_count"),
          r.getAs[Long]("total_count"))).toMap
    // itemid 600: stays 11 (2 rows), 12 (1 row) → mean freq 1.5, 1 zero, 3 total
    assert(s(600L) === ((1.5, 1L, 3L)))
    assert(s(601L) === ((1.0, 1L, 1L)))
  }

  test("preprocMeds/offsets: negative offsets floor correctly (§2.4)") {
    val cohort = Fixtures.icustays(spark)
    val med = Features.preprocMeds(Fixtures.inputevents(spark), cohort)
    val m = med.select(col("orderid"), col("start_hours_from_admit"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // order 3: starts 2019-01-01 06:00 vs intime 08:00 → -2h
    assert(m(3L) === -2L)
    assert(m(1L) === 2L)
  }

  test("featureSelection keeps only whitelisted codes") {
    import spark.implicits._
    val df = Seq((11L, 600L), (11L, 601L), (12L, 602L)).toDF("stay_id", "itemid")
    val wl = Seq(600L, 602L).toDF("itemid")
    val sel = Features.select(df, wl, "itemid")
    assert(sel.select(col("itemid")).collect().map(_.getLong(0)).sorted.toSeq === Seq(600L, 602L))
  }

  test("pivotCohortMlb: list-literal column -> one-hot wide (icuutil 448-466)") {
    import spark.implicits._
    // python-literal lists as the reference stores them; row 2 has an
    // in-row duplicate ('b') that MLB counts once; row 3 is null-skipped
    val df = Seq(
      (1L, 0L, "['a', 'b']"),
      (2L, 1L, "['b', 'b', 'c']"),
      (3L, 0L, null.asInstanceOf[String]),
      (4L, 1L, "['a']")
    ).toDF("subject_id", "label", "codes")
    val wide = Features.pivotCohortMlb(df, Seq("subject_id", "label"), "codes")
    assert(wide.columns.toSeq === Seq("subject_id", "label", "a", "b", "c"))
    val rows = wide.collect().map(r => r.getLong(0) ->
      (r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(rows(1L) === ((1, 1, 0)))
    assert(rows(2L) === ((0, 1, 1)))
    assert(rows(4L) === ((1, 0, 0)))
    assert(!rows.contains(3L)) // dropna(subset=[target_col])
    // max_features: ranked by row frequency desc (a=2,b=2,c=1), tie a<b;
    // top-2 keeps a,b and drops the c column entirely
    val top2 = Features.pivotCohortMlb(df, Seq("subject_id", "label"), "codes",
      maxFeatures = Some(2))
    assert(top2.columns.toSeq === Seq("subject_id", "label", "a", "b"))
    // row 2 survives via 'b' even though its 'c' was cut
    assert(top2.filter(col("subject_id") === 2L).count() === 1L)
  }

  test("pivotCohortMlb: apostrophes and commas inside labels parse like ast.literal_eval") {
    import spark.implicits._
    // Python reprs apostrophe-bearing strings double-quoted — the old
    // '→" swap turned these into invalid JSON and silently dropped the
    // row; interior commas must not split either. Empty list → no rows.
    val df = Seq(
      (1L, 0L, """["Alzheimer's disease", 'Sepsis, unspecified']"""),
      (2L, 1L, "['Sepsis, unspecified']"),
      (3L, 0L, "[]")
    ).toDF("subject_id", "label", "codes")
    val wide = Features.pivotCohortMlb(df, Seq("subject_id", "label"), "codes")
    assert(wide.columns.toSeq ===
      Seq("subject_id", "label", "Alzheimer's disease", "Sepsis, unspecified"))
    val rows = wide.collect().map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3))).toMap
    assert(rows(1L) === ((1, 1)))
    assert(rows(2L) === ((0, 1)))
    assert(!rows.contains(3L)) // empty list → zero exploded labels
  }
}
