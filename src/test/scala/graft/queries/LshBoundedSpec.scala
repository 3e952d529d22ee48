package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.ConnectedComponents

/** Degenerate-bucket safety of the LSH stack (VERDICT r4 item 2): the
  * bucket aggregation buffer must stay bounded no matter the bucket
  * size, candidate pairs must respect the cap, and star edges must keep
  * FULL connectivity with no cap at all.
  */
class LshBoundedSpec extends SparkSpec {

  /** Synthetic signature table (doc_id, mh): all 8 values of the `mh`
    * array derived from doc_id so buckets have controlled collision
    * structure without running the minhash pipeline.
    */
  private def sig(n: Int, mod: Int) =
    spark.range(n.toLong).select(col("id").as("doc_id"),
      array_repeat((col("id") % mod).cast("string"), 8).as("mh"))

  /** Like [[sig]], but each array slot hashes (doc_id, slot) on its own,
    * so the three d42 bandings bucket differently: b8r1 pairs docs
    * that agree on any one slot, b2r4 only docs that agree on all four
    * slots of a band. */
  private def mixedSig(n: Int, mod: Int) =
    spark.range(n.toLong).select(col("id").as("doc_id"),
      array((0 until 8).map(i => pmod(xxhash64(col("id"), lit(i)), lit(mod.toLong))): _*).as("mh"))

  test("100k-member degenerate bucket: bounded ids, capped pairs, complete star edges") {
    val n = 100000
    val s = sig(n, 1) // every doc identical → one bucket per band
    val buckets = Docs.lshBuckets(s, nBands = 4, maxBucket = 16).collect()
    assert(buckets.length === 4) // band prefix makes the 4 band keys distinct
    buckets.foreach { r =>
      assert(r.getAs[Seq[Long]]("ids") === (0L until 16L))
      assert(r.getAs[Long]("n") === n.toLong)
    }
    // pairs bounded by the cap: 16 smallest ids → C(16,2) pairs, same in
    // all 4 bands → still 120 after distinct
    assert(Docs.lshCandidatePairs(s, nBands = 4, maxBucket = 16).count() === 120L)
    // star edges need NO cap: all n-1 edges from the bucket min, and no
    // array of the bucket is ever materialized
    val edges = Docs.lshStarEdges(s, nBands = 4)
    assert(edges.count() === (n - 1).toLong)
    val us = edges.select(col("u")).distinct().collect().map(_.getLong(0))
    assert(us === Array(0L))
  }

  test("bounded bucket path matches the unbounded self-join reference") {
    val s = sig(500, 23)
    // reference pairs: plain banded self-join (the DuckDB oracle's shape)
    val banded = s.select(col("doc_id"), explode(array(
      (0 until 4).map(b =>
        concat(lit(s"$b:"), element_at(col("mh"), 2 * b + 1), lit(":"),
          element_at(col("mh"), 2 * b + 2))): _*)).as("band_key"))
    val expected = banded.as("a")
      .join(banded.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .distinct()
    val got = Docs.lshCandidatePairs(s, nBands = 4, maxBucket = 2048)
    assert(got.except(expected).count() === 0L)
    assert(expected.except(got).count() === 0L)
    // components over star edges == components over all candidate
    // pairs, under every d42 banding
    for (input <- Seq(s, mixedSig(500, 23)); (label, _) <- Docs.lshTuningConfigs) {
      val (nBands, rowsPerBand) = Docs.lshBandingOf(label)
      val viaStar = Docs.nearDupClusters(input, label)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pairs = Docs.lshCandidatePairs(input, nBands, 2048, rowsPerBand)
      val viaPairs = ConnectedComponents.components(
        pairs.toDF("u", "v")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar === viaPairs, s"banding $label")
    }
  }

  test("band keys delimit the two minhash values — no decimal aliasing") {
    import spark.implicits._
    // Without a delimiter, mh=(1,23) and mh=(12,3) both produce band
    // key "b:123" and the docs spuriously bucket together (ADVICE r5).
    val rows = Seq(
      (0L, "1", "23"),
      (1L, "12", "3"))
    val s = rows.toDF("doc_id", "a", "b").select(col("doc_id"),
      array((0 until 4).flatMap(_ => Seq(col("a"), col("b"))): _*).as("mh"))
    assert(Docs.lshCandidatePairs(s, nBands = 4).count() === 0L)
    assert(Docs.lshStarEdges(s, nBands = 4).count() === 0L)
  }

  test("star edges compute the banded exchange once (ReuseExchange)") {
    val edges = Docs.lshStarEdges(sig(1000, 7), nBands = 4)
    edges.collect() // AQE reuse is only visible on the EXECUTED plan
    assert(edges.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "agg and probe sides must share one repartition(band_key) exchange")
  }
}
