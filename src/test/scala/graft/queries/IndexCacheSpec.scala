package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import graft.SparkSpec

/** Session-scoped trained-index cache lifecycle (ADVICE r11): after a
  * corpus rewrite, the DOCUMENTED invalidation sequence
  * (`Registry.invalidate(dir)` + `Sim.invalidateIndexCaches()`) must
  * make every PQ-family query serve results trained on the NEW corpus —
  * clearing only one of the three model caches (the pre-round-12 bug)
  * would leave the others serving stale codebooks / code tables.
  */
class IndexCacheSpec extends SparkSpec {

  /** A tiny labeled embedding corpus where vec 0 (the query) has
    * `twin` as its identical nearest neighbor and everything else is
    * far away — so every PQ variant's top re-ranked row must be
    * `twin`, whatever the codebooks learned. */
  private def writeCorpus(dir: String, twin: Long): Unit = {
    import spark.implicits._
    val base = Array.fill(16)(0.9f)
    val far = (i: Long) => Array.tabulate(16)(j =>
      if (j % 2 == 0) -0.8f - 0.01f * ((i + j) % 7) else 0.7f + 0.01f * ((i * 3 + j) % 5))
    val rows = (0L until 20L).map { i =>
      val e =
        if (i == 0L || i == twin) base.clone()
        else far(i)
      (i, e, i % 4)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }

  test("invalidateIndexCaches: every trained PQ index retrains after a corpus rewrite") {
    val dir = Files.createTempDirectory("graft-idxcache").toString
    def topOf(q: String): Long =
      Registry.queries(q)(spark, dir).collect().head.getLong(0)

    writeCorpus(dir, twin = 7L)
    for (q <- Seq("e15_pq_ann", "e19_pq_residual_ann", "e20_pq4_ann", "e21_opq4_ann"))
      assert(topOf(q) === 7L, s"$q should rank the identical twin first")

    // rewrite the corpus in place: a different vector is now the twin
    writeCorpus(dir, twin = 13L)
    Registry.invalidate(dir)
    Sim.invalidateIndexCaches()
    for (q <- Seq("e15_pq_ann", "e19_pq_residual_ann", "e20_pq4_ann", "e21_opq4_ann"))
      assert(topOf(q) === 13L,
        s"$q served a stale index after the documented invalidation sequence")
  }

  test("second build of every index-training query in one session trains nothing") {
    val dir = Files.createTempDirectory("graft-idxbuild2").toString
    writeCorpus(dir, twin = 7L)
    Sim.invalidateIndexCaches()
    def build(q: String): Unit = { Registry.queries(q)(spark, dir); () }
    val size0 = Sim.indexCacheSize
    build("e18_recall_report")
    assert(Sim.indexCacheSize === size0 + 4,
      "e18's first build must train the pq, residual, pq4 and opq4 indexes")
    val trainers = Seq("e10_semdedup", "e15_pq_ann", "e18_recall_report",
      "e19_pq_residual_ann", "e20_pq4_ann", "e21_opq4_ann")
    trainers.filterNot(_ == "e18_recall_report").foreach(build)
    val (size1, secs1) = (Sim.indexCacheSize, Sim.indexBuildSeconds)
    for (q <- trainers) {
      build(q)
      assert(Sim.indexCacheSize === size1, s"$q's second build added a cache entry")
      assert(Sim.indexBuildSeconds === secs1, s"$q's second build ran a training build")
    }
  }

  test("semDedupIndex: one clustering per corpus snapshot; documented invalidation retrains") {
    val dir = Files.createTempDirectory("graft-semdedupcache").toString
    def reps(): Map[Long, Long] =
      Registry.queries("e10_semdedup")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

    writeCorpus(dir, twin = 7L)
    Registry.invalidate(dir)
    Sim.invalidateIndexCaches()
    val before = Sim.indexCacheSize
    val a = reps()
    assert(a(7L) === 0L, "identical twin must share vec 0's cluster")
    assert(Sim.indexCacheSize === before + 1, "first build must train the cluster index")
    val a2 = reps()
    assert(Sim.indexCacheSize === before + 1,
      "a second build of the same corpus must serve from the cache, not retrain")
    assert(a2 === a)

    // corpus rewrite + the documented invalidation sequence → fresh clusters
    writeCorpus(dir, twin = 13L)
    Registry.invalidate(dir)
    Sim.invalidateIndexCaches()
    val b = reps()
    assert(b(13L) === 0L, "retrained index must cluster the NEW twin with vec 0")
    assert(b(7L) !== 0L, "the old twin is far from vec 0 in the rewritten corpus")
  }
}
