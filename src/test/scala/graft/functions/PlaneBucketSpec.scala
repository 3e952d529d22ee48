package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The codegen'd PlaneBucketCode expression must be bit-identical to
  * the interpreted HOF formulation it replaced (queries/Sim.scala
  * e04/e05) — that formulation is what the DuckDB oracle mirrors. */
class PlaneBucketSpec extends SparkSpec {

  private def planeDot(emb: Column, j: Int): Column =
    aggregate(
      transform(emb, (x, i) =>
        x.cast("double") * ((i * 37 + lit(j * 101)) % 19 - 9).cast("double")),
      lit(0.0), (acc, x) => acc + x)
  private def bucketRef(emb: Column): Column =
    (0 until 8).map(j => when(planeDot(emb, j) > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  test("expression == builtin HOF formulation on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val both = e.select(col("vec_id"),
      bucketRef(col("embedding")).as("ref"),
      PlaneBucketExpr.planeBucketCode(col("embedding")).as("got"))
    assert(both.filter(col("ref") =!= col("got")).count() === 0)
    assert(both.count() === e.count())
    // buckets actually spread (the expression isn't constant)
    assert(both.select(col("got")).distinct().count() > 1)
  }

  test("null array and null elements yield code 0, matching the builtin") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1.0f, -2.0f, 3.0f))),
      (2L, Some(Seq(1.0f, Float.NaN))),
      (3L, None: Option[Seq[Float]]),
      (4L, Some(Seq.empty[Float]))).toDF("vec_id", "embedding")
    val both = df.select(col("vec_id"),
      bucketRef(col("embedding")).as("ref"),
      PlaneBucketExpr.planeBucketCode(col("embedding")).as("got"))
    both.collect().foreach { r =>
      val ref = if (r.isNullAt(1)) 0L else r.getLong(1)
      assert(r.getLong(2) === ref, s"vec_id=${r.getLong(0)}")
    }
    // null-element row: every plane sum is null in the builtin -> 0
    val withNullEl = Seq((5L, Seq(Some(1.0f), None, Some(2.0f)))).toDF("vec_id", "embedding")
    val g = withNullEl.select(PlaneBucketExpr.planeBucketCode(col("embedding"))).head.getLong(0)
    assert(g === 0L)
  }

  test("more planes refine the 8-plane buckets exactly: code8 == code12 & 0xff") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val both = e.select(
      PlaneBucketExpr.planeBucketCode(col("embedding")).as("c8"),
      PlaneBucketExpr.planeBucketCode(col("embedding"), 12).as("c12"))
    assert(both.filter(col("c8") =!= (col("c12").bitwiseAND(lit(255L)))).count() === 0)
    // refinement is real: 12 planes produce strictly more buckets here
    assert(both.select(col("c12")).distinct().count() >
      both.select(col("c8")).distinct().count())
  }

  test("knnJoinFast at 8 planes == the e06 gate query") {
    val dir = "/root/testdata/sf0.001"
    val fast = graft.queries.Sim.knnJoinFast(spark, dir, planes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val gate = graft.queries.Registry.queries("e06_knn_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(fast === gate)
    // planesFor sanity: small corpora keep oracle geometry, big ones refine
    assert(graft.queries.Sim.planesFor(2000) === 8)
    assert(graft.queries.Sim.planesFor(200000) === 12)
  }

  test("nearDupPairs at 8 planes == the e05 gate query; finer planes yield a subset") {
    val dir = "/root/testdata/sf0.001"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fast = pairs(graft.queries.Sim.nearDupPairs(spark, dir, planes = 8))
    val gate = pairs(graft.queries.Registry.queries("e05_embed_neardup")(spark, dir))
    assert(fast === gate)
    // refinement: a 12-plane bucket is a subdivision of its 8-plane
    // bucket, so candidate pairs (and thus survivors) can only shrink
    val finer = pairs(graft.queries.Sim.nearDupPairs(spark, dir, planes = 12))
    assert(finer.subsetOf(fast), "finer buckets must never ADD pairs")
  }
}
