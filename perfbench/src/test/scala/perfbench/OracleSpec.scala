package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.mimic.{MimicSource, Pipeline}

/** At a tiny N the generator's expected answers equal what the library
  * produces, and output digests ignore row order. */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val root = Files.createTempDirectory("perfbench-oracle").toString
  // generated and ingested before any pipeline reads the tree
  private lazy val data = {
    val d = Gen.write(root, GenSpec.tiny, 5)
    MimicSource(spark, root).ingestToParquet()
    d
  }
  private def src = { data; MimicSource(spark, root) }

  private def counts(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("label").cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("every sweep cohort matches the oracle") {
    Workloads.sweepConfigs.foreach { c =>
      val out = Files.createTempDirectory("perfbench-cohort").toString
      val pipe = Pipeline(spark, src, s"$root/icd_mapping.txt", out)
      val got = counts(pipe.cohort(useIcu = c.useIcu, label = c.label, time = c.time,
        diseaseLabel = c.diseaseLabel, admitDisease = c.admitDisease))
      val want = Oracle.cohort(data, c)
      assert(got == ((want.size.toLong, want.count(_.label == 1).toLong)), c.name)
      assert(want.nonEmpty, s"${c.name}: empty cohort tests nothing")
    }
  }

  test("time-series stays and per-stay directories match the oracle") {
    Seq(Oracle.CohortCfg("m", useIcu = true, "Mortality") -> "Mortality",
      Oracle.CohortCfg("r", useIcu = true, "Readmission", 30) -> "Readmission").foreach {
      case (c, task) =>
        val out = Files.createTempDirectory("perfbench-ts").toString
        val pipe = Pipeline(spark, src, s"$root/icd_mapping.txt", out)
        val cohort = pipe.cohort(useIcu = true, label = c.label, time = c.time)
        val feats = pipe.cleanFeatures(pipe.featureIcu(cohort), imputeOutlier = true)
        val ts = pipe.timeSeries(cohort, feats, task, imputeHow = "Mean")
        val (kept, pos, perStay) = Oracle.timeSeries(data, Oracle.cohort(data, c), task)
        assert(counts(ts("labels")) == ((kept, pos)), task)
        val dirs = new File(s"$out/ts/per_stay_chart").list().count(_.startsWith("stay_id="))
        assert(dirs == perStay, task)
        assert(perStay > 0 && perStay < kept, s"$task: the window and UOM drop must bite")
    }
  }

  test("digests ignore row order and fold -0.0 into 0.0") {
    import spark.implicits._
    val a = Seq((1L, 0.0, Map(2L -> 1.5)), (2L, 3.25, Map(1L -> 2.0))).toDF("k", "v", "m")
    val b = Seq((2L, 3.25000000001, Map(1L -> 2.0)), (1L, -0.0, Map(2L -> 1.5))).toDF("k", "v", "m")
    assert(Digest.of(a) == Digest.of(b.repartition(3)))
    val c = Seq((1L, 0.0, Map(2L -> 1.5)), (2L, 3.5, Map(1L -> 2.0))).toDF("k", "v", "m")
    assert(Digest.of(a) != Digest.of(c))
  }
}
