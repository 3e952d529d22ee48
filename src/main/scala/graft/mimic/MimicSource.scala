package graft.mimic

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Catalog of MIMIC-IV table readers rooted at `<root>/<version>/`
  * (layout per FIXTURES.md; mirrors the reference's path construction,
  * day_intervals_cohort_v1.py:65-71 etc.).
  *
  * All reads use pinned schemas — never inference — and accept either
  * `.csv.gz` (reference layout; gzip auto-detected, non-splittable) or a
  * Parquet directory of the same name produced by [[ingestToParquet]].
  * At cluster scale csv.gz is a single-task read (SURVEY S4): ingest to
  * Parquet once, then every downstream stage scans splittable columnar
  * data with pushdown.
  */
final case class MimicSource(spark: SparkSession, root: String) {

  private def path(rel: String) = s"$root/$rel"

  /** Existence via [[graft.Fs]] — the root may be HDFS/S3 at deployment
    * scale, where a driver-local check would silently re-read
    * non-splittable csv.gz. */
  private def exists(p: String): Boolean = graft.Fs.exists(spark, p)

  /** Parquet dir if present (ingested), else the reference's csv.gz. */
  def table(rel: String, schema: StructType, sep: String = ","): DataFrame = {
    val pq = path(rel).stripSuffix(".csv.gz") + ".parquet"
    if (exists(pq))
      spark.read.schema(schema).parquet(pq)
    else
      spark.read.schema(schema).option("header", "true").option("sep", sep)
        .csv(path(rel))
  }

  def patients: DataFrame = table("core/patients.csv.gz", MimicSchemas.patients)
  def admissions: DataFrame = table("core/admissions.csv.gz", MimicSchemas.admissions)
  def icustays: DataFrame = table("icu/icustays.csv.gz", MimicSchemas.icustays)
  def chartevents: DataFrame = table("icu/chartevents.csv.gz", MimicSchemas.chartevents)
  def outputevents: DataFrame = table("icu/outputevents.csv.gz", MimicSchemas.outputevents)
  def procedureevents: DataFrame = table("icu/procedureevents.csv.gz", MimicSchemas.procedureevents)
  def inputevents: DataFrame = table("icu/inputevents.csv.gz", MimicSchemas.inputevents)
  def diagnosesIcd: DataFrame = table("hosp/diagnoses_icd.csv.gz", MimicSchemas.diagnosesIcd)
  def dIcdDiagnoses: DataFrame = table("hosp/d_icd_diagnoses.csv.gz", MimicSchemas.dIcd)
  def dIcdProcedures: DataFrame = table("hosp/d_icd_procedures.csv.gz", MimicSchemas.dIcd)
  def proceduresIcd: DataFrame = table("hosp/procedures_icd.csv.gz", MimicSchemas.proceduresIcd)

  /** Unused-but-defined hosp readers with dictionary joins
    * (icu_preprocess_util.py:70-88, 122-140 — SURVEY S11). */
  def diagnosesWithTitles: DataFrame =
    diagnosesIcd.join(broadcast(dIcdDiagnoses), Seq("icd_code"), "inner")
  def proceduresWithTitles: DataFrame =
    proceduresIcd.join(broadcast(dIcdProcedures), Seq("icd_code"), "inner")

  /** ICD9→ICD10 mapping TSV with file line order captured — the
    * reference's `.iloc[0]` takes the FIRST match in file order
    * (disease_cohort.py:53); `line_no` makes that deterministic in a
    * distributed read. The TSV is one small file, so the single-partition
    * monotonically_increasing_id IS the line number; the table is
    * broadcast everywhere it is joined.
    */
  def icdMapping(mapPath: String): DataFrame =
    spark.read.schema(MimicSchemas.icdMapping)
      .option("header", "true").option("sep", "\t")
      .csv(mapPath)
      .coalesce(1)
      .withColumn("line_no", monotonically_increasing_id())
      .withColumn("diagnosis_description", lower(col("diagnosis_description")))

  /** One-time ingest of every csv.gz to Parquet next to it — the scale
    * path (SURVEY §4.1): csv.gz is non-splittable, Parquet scans are
    * parallel, pruned, and pushdown-friendly. The conversions are
    * independent, so they run together ([[graft.Fanout]]).
    */
  def ingestToParquet(): Unit = {
    val tables: Seq[(String, StructType)] = Seq(
      "core/patients.csv.gz" -> MimicSchemas.patients,
      "core/admissions.csv.gz" -> MimicSchemas.admissions,
      "icu/icustays.csv.gz" -> MimicSchemas.icustays,
      "icu/chartevents.csv.gz" -> MimicSchemas.chartevents,
      "icu/outputevents.csv.gz" -> MimicSchemas.outputevents,
      "icu/procedureevents.csv.gz" -> MimicSchemas.procedureevents,
      "icu/inputevents.csv.gz" -> MimicSchemas.inputevents,
      "hosp/diagnoses_icd.csv.gz" -> MimicSchemas.diagnosesIcd)
    graft.Fanout.all(spark)(tables.filter { case (rel, _) => exists(path(rel)) }.map {
      case (rel, schema) =>
        val csv = spark.read.schema(schema).option("header", "true").csv(path(rel))
        rel -> (() => csv.write.mode("overwrite")
          .parquet(path(rel).stripSuffix(".csv.gz") + ".parquet"))
    })
  }
}
