package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.curation.{CurationPipeline, Walkthrough}
import graft.mimic.{MimicSource, Pipeline}
import Oracle.CohortCfg

/** Counts operations: every public call and every correctness check is
  * one; a call that throws or a check that does not hold is a failure. */
final class Ops(tracer: Tracer) {
  var attempted = 0L
  var failed = 0L

  def call[T](name: String)(body: => T): T = {
    attempted += 1
    try tracer.span(name)(body)
    catch { case e: Throwable => failed += 1; throw e }
  }

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case e: Exception => System.err.println(e); false }
    if (!good) { failed += 1; System.err.println(s"CHECK FAILED: $what") }
  }
}

/** One benchmark workload: inputs, set-up, the timed pass and its
  * correctness gates. */
trait Workload {
  def name: String
  /** Makes the inputs under `in` from `seed`; not part of set-up time. */
  def prepare(spark: => SparkSession, in: String, seed: Long): Unit
  /** The user's one-time set-up after the session exists. */
  def setup(spark: SparkSession, ops: Ops, in: String): Unit
  /** One full pass into the fresh directory `out`. */
  def pass(spark: SparkSession, ops: Ops, in: String, out: String): Unit
  /** Correctness gates for the pass just written to `out`. */
  def check(spark: SparkSession, ops: Ops, out: String): Unit
  /** Input rows a pass consumes. */
  def inputRows: Long
  /** Op name of an execution that writes or reads `rel` (a path
    * relative to the pass directory) inside a public call that covers
    * several directories. */
  def childOp(rel: String): Option[String] = None
}

object Workloads {

  val names: Seq[String] = Seq("icu_mortality_dense", "icu_readmission_sparse",
    "cohort_sweep", "curation_walkthrough")

  def apply(name: String): Workload = name match {
    case "icu_mortality_dense" => new IcuPipeline(name, dense,
      CohortCfg("mortality", useIcu = true, "Mortality"), "Mortality")
    case "icu_readmission_sparse" => new IcuPipeline(name, sparse,
      CohortCfg("readmission", useIcu = true, "Readmission", 30), "Readmission")
    case "cohort_sweep" => new CohortSweep(sweep)
    case "curation_walkthrough" => new Curation
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; known: ${names.mkString(", ")}")
  }

  /** Few long stays, dense chart events. */
  val dense: Gen.Shape = Gen.Shape(subjects = 40, staysPerSubject = (1, 1),
    hospOnlyPerSubject = (0, 0), losHours = (24, 240), gapDays = (200, 400),
    chartItems = (20, 40), chartEveryHours = (1, 4), medOrders = (5, 15),
    outEvents = (5, 20), procEvents = (2, 8), diagPerAdm = (3, 10),
    icd9Frac = 0.4, emptyModalityFrac = 0.03)

  /** Many short visits per subject, sparse events, ICD-9-heavy. */
  val sparse: Gen.Shape = Gen.Shape(subjects = 150, staysPerSubject = (2, 5),
    hospOnlyPerSubject = (0, 2), losHours = (20, 60), gapDays = (3, 60),
    chartItems = (1, 3), chartEveryHours = (8, 12), medOrders = (0, 3),
    outEvents = (0, 4), procEvents = (0, 2), diagPerAdm = (5, 15),
    icd9Frac = 0.8, emptyModalityFrac = 0.1)

  /** Visit tables only: many subjects, admissions and diagnoses, no
    * events. */
  val sweep: Gen.Shape = Gen.Shape(subjects = 8000, staysPerSubject = (0, 3),
    hospOnlyPerSubject = (1, 7), losHours = (6, 400), gapDays = (2, 200),
    chartItems = (0, 0), chartEveryHours = (1, 1), medOrders = (0, 0),
    outEvents = (0, 0), procEvents = (0, 0), diagPerAdm = (5, 25),
    icd9Frac = 0.5, emptyModalityFrac = 1.0)

  /** The reference test suite's nine cohort configurations. */
  val sweepConfigs: Seq[CohortCfg] = Seq(
    CohortCfg("icu_mortality", useIcu = true, "Mortality"),
    CohortCfg("icu_readmission_30", useIcu = true, "Readmission", 30),
    CohortCfg("icu_readmission_120", useIcu = true, "Readmission", 120),
    CohortCfg("icu_los_3", useIcu = true, "LOS", 3),
    CohortCfg("icu_los_7", useIcu = true, "LOS", 7),
    CohortCfg("icu_readmission_30_I50", useIcu = true, "Readmission", 30,
      diseaseLabel = Some("I50")),
    CohortCfg("icu_mortality_admit_J44", useIcu = true, "Mortality",
      admitDisease = Some("J44")),
    CohortCfg("hosp_readmission_30_J44", useIcu = false, "Readmission", 30,
      diseaseLabel = Some("J44")),
    CohortCfg("hosp_los_7_admit_I50", useIcu = false, "LOS", 7,
      admitDisease = Some("I50")))

  private def pipeline(spark: SparkSession, in: String, out: String): Pipeline =
    Pipeline(spark, MimicSource(spark, in), s"$in/icd_mapping.txt", out)

  private def cohortCall(ops: Ops, pipe: Pipeline, c: CohortCfg): DataFrame =
    ops.call("cohort.extract")(pipe.cohort(useIcu = c.useIcu, label = c.label,
      time = c.time, diseaseLabel = c.diseaseLabel, admitDisease = c.admitDisease))

  private def labelCounts(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("label").cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Shared by the MIMIC workloads: generate, remember the oracle. */
  abstract class Mimic(shape: Gen.Shape) extends Workload {
    protected var data: Gen.Data = _
    def prepare(spark: => SparkSession, in: String, seed: Long): Unit =
      data = Gen.write(in, shape, seed)
    def setup(spark: SparkSession, ops: Ops, in: String): Unit =
      ops.call("source.ingest")(MimicSource(spark, in).ingestToParquet())
    def inputRows: Long = data.rowsWritten
  }

  /** E1→E4 on one ICU task: cohort, per-modality features, clean,
    * summaries, selection, time series. */
  final class IcuPipeline(val name: String, shape: Gen.Shape, cfg: CohortCfg, task: String)
      extends Mimic(shape) {
    private lazy val expectCohort = Oracle.cohort(data, cfg)
    private lazy val expectTs = Oracle.timeSeries(data, expectCohort, task)
    private var labels: DataFrame = _

    def pass(spark: SparkSession, ops: Ops, in: String, out: String): Unit = {
      val pipe = pipeline(spark, in, out)
      val cohort = cohortCall(ops, pipe, cfg)
      val feats = Seq("diag", "out", "chart", "proc", "med").map { m =>
        ops.call(s"features.$m")(pipe.featureIcu(cohort, diag = m == "diag",
          out = m == "out", chart = m == "chart", proc = m == "proc", med = m == "med"))
      }.reduce(_ ++ _)
      val cleaned = ops.call("features.clean")(pipe.cleanFeatures(feats,
        groupDiag = "convert", cleanChart = true, imputeOutlier = true,
        thresh = 98, leftThresh = 0))
      ops.call("features.summary")(pipe.summaries(cleaned).values.foreach(_.collect()))
      val selected = ops.call("features.select") {
        pipe.writeFeatureLists(cleaned)
        pipe.featureSelection(cleaned)
      }
      val ts = ops.call("datagen.timeSeries")(pipe.timeSeries(cohort, selected, task,
        includeTime = 24, bucket = 1, predW = 6, imputeHow = "Mean"))
      labels = ts("labels")
    }

    def check(spark: SparkSession, ops: Ops, out: String): Unit = {
      val (n, pos) = labelCounts(spark.read.parquet(s"$out/cohort"))
      ops.check(s"$name cohort ($n, $pos) == oracle") {
        (n, pos) == (expectCohort.size.toLong, expectCohort.count(_.label == 1).toLong)
      }
      val (kept, keptPos, perStay) = expectTs
      ops.check(s"$name surviving stays") { labelCounts(labels) == ((kept, keptPos)) }
      val dirs = Option(new File(s"$out/ts/per_stay_chart").list()).toSeq.flatten
        .count(_.startsWith("stay_id="))
      ops.check(s"$name per-stay dirs $dirs == $perStay") { dirs == perStay }
    }

    override def childOp(rel: String): Option[String] = rel match {
      case "ts/per_stay_chart" => Some("sinks.per_stay")
      case r if r.startsWith("ts/vocab_") => Some("sinks.vocab")
      case r if r.startsWith("ts/") => Some("datagen." + r.stripPrefix("ts/"))
      case _ => None
    }
  }

  /** The nine cohort configurations over large visit tables. */
  final class CohortSweep(shape: Gen.Shape) extends Mimic(shape) {
    val name = "cohort_sweep"
    private lazy val expect = sweepConfigs.map { c =>
      val v = Oracle.cohort(data, c)
      c.name -> (v.size.toLong, v.count(_.label == 1).toLong)
    }.toMap

    def pass(spark: SparkSession, ops: Ops, in: String, out: String): Unit =
      sweepConfigs.foreach(c => cohortCall(ops, pipeline(spark, in, s"$out/${c.name}"), c))

    def check(spark: SparkSession, ops: Ops, out: String): Unit =
      sweepConfigs.foreach { c =>
        val got = labelCounts(spark.read.parquet(s"$out/${c.name}/cohort"))
        ops.check(s"cohort ${c.name} $got == ${expect(c.name)}") { got == expect(c.name) }
      }
  }

  /** `CurationPipeline.run` with the walkthrough configuration on the
    * fixed 5,000-document corpus. */
  /** The sf0.1 `documents` table of TESTDATA.md, relative to the
    * repository root (the benchmark's working directory). */
  val Corpus = "perfbench/data/documents.parquet"

  final class Curation extends Workload {
    val name = "curation_walkthrough"
    private var docs: DataFrame = _
    private var nDocs = 0L

    /** Per-stage rows of WALKTHROUGH.md's table. */
    val expected: Seq[(String, Long)] = Seq(
      "00_report/source" -> 100L, "00_report/zipf" -> 2L, "00_stoplist" -> 31L,
      "01_gated" -> 1567L, "02_exact" -> 1564L, "03_clean" -> 1459L,
      "04_corpus" -> 1365L, "04a_spans" -> 1365L, "04b_selected" -> 700L,
      "05_chunks" -> 1523L, "06_pack" -> 700L, "07_order" -> 700L,
      "08_bpe/merges" -> 8L, "08_bpe/encoded" -> 700L)
    private var counts: Seq[(String, Long)] = Nil

    /** The corpus is fixed; the seed only picks which documents share
      * each of the four input files and their row order, which must not
      * change any stage's result. */
    def prepare(spark: => SparkSession, in: String, seed: Long): Unit = {
      val key = xxhash64(col("doc_id"), lit(seed))
      spark.read.parquet(new File(Corpus).getAbsolutePath)
        .repartitionByRange(4, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite").parquet(s"$in/documents.parquet")
    }

    def setup(spark: SparkSession, ops: Ops, in: String): Unit = {
      docs = spark.read.parquet(s"$in/documents.parquet")
      nDocs = ops.call("source.documents")(docs.count())
    }

    def inputRows: Long = nDocs

    def pass(spark: SparkSession, ops: Ops, in: String, out: String): Unit =
      counts = ops.call("curation.run")(CurationPipeline.run(spark, docs, out,
        cfg = Walkthrough.config, selection = Walkthrough.selection))

    def check(spark: SparkSession, ops: Ops, out: String): Unit = {
      ops.check(s"input docs $nDocs == 5000")(nDocs == 5000L)
      ops.check(s"curation stage rows $counts")(counts == expected)
    }

    override def childOp(rel: String): Option[String] =
      Some("curation." + rel.takeWhile(_ != '/'))
  }
}
