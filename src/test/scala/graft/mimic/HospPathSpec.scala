package graft.mimic

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The non-ICU (hospital admissions) cohort path: hadm-keyed roles,
  * days-only los (§2.4: a DIFFERENT unit than the ICU path's hours under
  * the same column name), expire-flag filter, min_valid_year dropna. */
class HospPathSpec extends SparkSpec {

  lazy val root: String = {
    val d = java.nio.file.Files.createTempDirectory("mimic_hosp").toString
    Fixtures.writeTree(spark, d)
    d
  }

  test("hosp visitPts: los in whole days, expire-flag filter under useAdmn") {
    val src = MimicSource(spark, root)
    val v = Cohort.visitPts(src, Cohort.hospRoles, useIcu = false,
      useAdmn = true, diseaseHids = None)
    val byHadm = v.select(col("hadm_id"), col("los")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hadm 101: 2019-01-01 08:00 → 01-04 12:30 = 3d 4.5h → days-only 3
    assert(byHadm(101L) === 3L)
    // hadm 102 died in hospital (expire flag 1) → excluded in readmission mode
    assert(!byHadm.contains(102L))
    // minor's admission excluded
    assert(!byHadm.contains(103L))
  }

  test("hosp extract: mortality labels on admissions") {
    val src = MimicSource(spark, root)
    val cohort = Cohort.extract(src, useIcu = false, label = "Mortality")
    val labels = cohort.select(col("hadm_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // subject 2 deathtime == dischtime; dod within [admit, disch] → 1
    assert(labels(102L) === 1)
    assert(labels(101L) === 0)
    assert(cohort.columns.contains("min_valid_year"))
  }

  test("hosp readmission: gap labels keyed by hadm roles") {
    val src = MimicSource(spark, root)
    val cohort = Cohort.extract(src, useIcu = false, label = "Readmission", time = 30)
    val labels = cohort.select(col("hadm_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(labels(501L) === 1) // readmitted 10d later
    assert(labels(502L) === 0)
    assert(labels(503L) === 0)
  }

  test("S11: diagnoses dictionary title join (broadcast inner)") {
    val src = MimicSource(spark, root)
    val titled = src.diagnosesWithTitles
      .select(col("icd_code"), col("long_title")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(titled("4280") === "congestive heart failure")
    assert(titled("I509") === "heart failure, unspecified")
    // codes without a dictionary entry drop (inner join) — 9999 absent
    assert(!titled.contains("9999"))
  }
}
