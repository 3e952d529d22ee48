package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorExprs.cosineFast

/** Pins ANN recall@3 for the production bucketed-KNN paths at a fixed
  * (corpus, planes) grid, so a bucket-geometry regression (wrong
  * bit-slicing, a planesFor clamp change) FAILS instead of silently
  * eroding neighbor quality. Everything here is deterministic: the query
  * sample is hash-ordered, the hyperplanes are seeded, ground truth is
  * brute force — so thresholds are pinned just under the measured value,
  * not left slack. */
class RecallSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val sampleN = 60

  private lazy val (truth, truthN, ids) = {
    val e = Registry.t(spark, sfDir, "embeddings")
    val ids = e.select(col("vec_id")).orderBy(xxhash64(col("vec_id")))
      .limit(sampleN).collect().map(_.getLong(0)).toSeq
    val q = e.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    val t = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(cosineFast(col("embedding"), col("qe")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("vec_id").as("nbr_id"))
      .cache()
    (t, t.count(), ids)
  }

  private def recallOf(got: org.apache.spark.sql.DataFrame): Double = {
    val g = got.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("qid"), col("nbr_id"))
    truth.join(g, Seq("qid", "nbr_id"), "left_semi").count().toDouble / truthN
  }

  // Measured on this fixed grid (uniform random embeddings, so true
  // neighbors are barely closer than random — absolute recall is LOW by
  // construction): knnJoinFast(8) = 0.050. The threshold sits just
  // under that exact deterministic value — any drop means the bucket
  // geometry changed, not the data.

  test("knnJoinFast single-probe recall@3 at the oracle geometry (8 planes)") {
    val r = recallOf(Sim.knnJoinFast(spark, sfDir, planes = 8))
    info(f"knnJoinFast(8) recall@3 = $r%.3f")
    assert(r >= 0.045, f"single-probe recall@3 regressed: $r%.3f")
  }

  test("ivfSearchTrained: exact top-5 within its probed cells, bounded probe count") {
    val got = Sim.ivfSearchTrained(spark, sfDir, queryVecId = 0L, k = 5, nprobe = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.length === 5)
    val usedCells = got.map(_._1).distinct
    assert(usedCells.length <= 2, s"results from more cells than nprobe: $usedCells")
    // independent brute force over the cells the results came from: IVF
    // must return exactly this in-cell top-5 (nothing in a probed cell
    // may beat a returned row)
    val (model, _) = Sim.kmeansIterate(spark, sfDir, 3)
    val cells = Registry.t(spark, sfDir, "embeddings")
      .filter(col("embedding").isNotNull)
      .withColumn("cell",
        graft.functions.KMeansExprs.assignCluster(col("embedding"), model))
    val q = cells.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    val brute = cells.filter(col("cell").isin(usedCells: _*))
      .filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(cosineFast(col("embedding"), col("qe")), 4))
      .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(5)
      .select(col("vec_id"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(t => (t._2, t._3)) === brute,
      s"IVF result diverges from in-cell brute force: $got vs $brute")
  }

  test("planesFor geometry is pinned: clamp floor, density scaling, cap") {
    assert(Sim.planesFor(1000) === 8)       // small corpus keeps oracle geometry
    assert(Sim.planesFor(200000) === 12)    // sf10 measured point (BENCH_NOTES)
    assert(Sim.planesFor(Long.MaxValue) <= 62)
    // monotone non-decreasing in n
    val grid = Seq(1L, 1000L, 10000L, 100000L, 1000000L, 100000000L, Long.MaxValue)
    val vals = grid.map(Sim.planesFor(_))
    assert(vals === vals.sorted, s"planesFor not monotone over $grid: $vals")
  }
}
