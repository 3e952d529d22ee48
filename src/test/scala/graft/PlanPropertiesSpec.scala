package graft

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.queries.Registry

/** Scale-property regression guards: these assertions pin the PLAN, not
  * the result — a refactor that silently drops a pushdown, un-broadcasts
  * a dimension, or introduces a cartesian product fails here before it
  * costs anything at cluster scale. */
class PlanPropertiesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df: DataFrame = Registry.queries(name)(spark, sfDir)
    val out = new ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("q02: filters reach the parquet scan; scan reads only needed columns") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"no pushed shipdate filter:\n$p")
    assert(!p.contains("l_comment") && !p.contains("l_returnflag"),
      "scan reads pruned columns")
  }

  test("q03: orders joins as narrow-build SHJ, the three dims broadcast; no SMJ") {
    val p = planOf("q03_join_multi")
    // orders must NOT broadcast: its 1.5 M-row HashedRelation rebuilt on
    // the driver every run (~0.9 s serial at sf1) and never fits at
    // production SF — the narrow-build shuffle-hash co-partitioned with
    // the lineitem spread is the d20 doctrine shape (r14 matched-pair).
    assert(p.contains("ShuffledHashJoin"),
      s"orders join must be shuffle-hash:\n${p.take(500)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val p = planOf("q01_agg_sum")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no partial aggregation:\n${p.take(800)}")
  }

  test("q37: salted join shuffles on (event_type, _salt), not event_type alone") {
    val p = planOf("q37_salted_join")
    assert(p.contains("_salt"), s"salt column absent from plan:\n${p.take(800)}")
  }

  test("d07: no cartesian/sort-merge anywhere in the LSH pipeline") {
    val p = planOf("d07_lsh_pairs")
    assert(!p.contains("CartesianProduct"))
  }

  test("q12: percentile stats side is broadcast back to events") {
    val p = planOf("q12_percentile_clip")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"stats join not broadcast:\n${p.take(800)}")
  }

  // d13's gate → dedup → decontam → signature chain sits BEHIND the
  // dedup-index checkpoint in the registered query (the final plan's
  // corpus-side leaves are LogicalRDDs), so the stage guards inspect
  // the pre-checkpoint frame directly.
  private def d13SigPlan: String = {
    val docs = Registry.t(spark, sfDir, "documents")
    val df = graft.queries.Docs.corpusCleanSigDf(docs)
    val out = new ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("d13: corpus-clean composite has no cartesian product") {
    assert(!planOf("d13_corpus_clean").contains("CartesianProduct"))
    assert(!d13SigPlan.contains("CartesianProduct"))
  }

  test("d13: exact-dedup exchange ships fingerprints, not documents") {
    val p = d13SigPlan
    // the dedup exchange moves (md5, doc_id) pairs; document text must
    // stay on its doc_id-partitioned side of the semi-join
    val sections = p.split("\n\n")
    val dedup = sections.filter(s => s.contains("Exchange") && s.contains("_h#"))
    assert(dedup.nonEmpty, s"no _h fingerprint exchange in plan:\n${p.take(1200)}")
    dedup.foreach(s => assert(!s.contains("text#"),
      s"dedup exchange carries document text:\n$s"))
    assert(p.contains("partial_min"), "fingerprint min not map-side combined")
  }

  test("d14/d17: per-row curation maps have NO shuffle beyond the doc_id spread") {
    // repetition stats and PII redaction are scan-parallel HOF/regex maps;
    // one Exchange (the deliberate repartition(doc_id) spread / none) is
    // the ceiling — a groupBy or window sneaking in would add more.
    for (q <- Seq("d14_repetition", "d17_pii_redact")) {
      val p = planOf(q)
      // count Exchange NODES (the details section "(n) Exchange"), not
      // string hits — explain("formatted") names each node twice
      assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1,
        s"$q gained a shuffle:\n${p.take(800)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    }
  }

  test("d15: benchmark n-gram side broadcasts; training side never shuffles for the join") {
    val p = planOf("d15_decontam")
    assert(p.contains("BroadcastHashJoin"), s"decontam join not broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), "exploded training side must not sort-merge")
  }

  test("d16: quota cut pushes below the full per-stratum sort (WindowGroupLimit)") {
    val p = planOf("d16_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=K not pushed down — a skewed stratum would fully sort:\n${p.take(800)}")
  }

  test("d18: df table broadcasts back; top-3 cut pushes below the per-doc sort") {
    val p = planOf("d18_tfidf")
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n${p.take(800)}")
    assert(p.contains("WindowGroupLimit"), "rank<=3 not pushed down")
    assert(!p.contains("SortMergeJoin"))
    // the tf side and the df branch share the toks pipeline: the doc_id
    // spread must compute ONCE (runtime reuse; the static plan prints
    // both branches), and the big side must not reshuffle after the
    // broadcast joins — the window sorts within the existing partitioning
    val df = Registry.queries("d18_tfidf")(spark, sfDir)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("ReusedExchange"),
      "df branch must reuse the doc_id spread exchange")
  }

  test("d25: freq table broadcasts back; token stream reuses the doc_id spread") {
    val p = planOf("d25_lm_surprisal")
    assert(p.contains("BroadcastHashJoin"), s"freq join not broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), "token stream must not re-shuffle for the join")
    val df = Registry.queries("d25_lm_surprisal")(spark, sfDir)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("ReusedExchange"),
      "freq branch must reuse the doc_id spread exchange")
  }

  test("e13: SQ codes join tiny broadcast sides only — no cartesian, no sort-merge") {
    val p = planOf("e13_sq_ann")
    assert(p.contains("BroadcastHashJoin"),
      s"per-dim stats / query-code joins must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), "corpus-sized code stream must not sort-merge")
    assert(!p.contains("CartesianProduct"), "only the 1-row query side may nest-loop")
  }

  test("e15: codebook + distance table broadcast; the code pipeline never sort-merges; non-query filter reaches the scan") {
    val p = planOf("e15_pq_ann")
    assert(p.contains("BroadcastHashJoin"),
      s"codebook / distance-table joins must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), "corpus-sized code stream must not sort-merge")
    assert(!p.contains("CartesianProduct"), "only the 1-row query side may nest-loop")
    // candidate generation must exclude the query BEFORE the scan, not
    // filter it downstream of the K-way distance fan-out
    assert(p.contains("Not(EqualTo(vec_id,0))"),
      s"vec_id<>0 not pushed to the parquet scan:\n${p.take(800)}")
  }

  test("e19: model literals and checkpointed cell map keep planning flat; codebooks broadcast; no sort-merge") {
    val p = planOf("e19_pq_residual_ann")
    assert(p.contains("BroadcastHashJoin"),
      s"codebook / distance-table joins must broadcast:\n${p.take(800)}")
    // the two CELL-MAP joins (residuals ⋈ cells, candidates ⋈ cells) are
    // corpus ⋈ corpus on vec_id: merge is the spillable-at-scale choice
    // (the d20 rule — a checkpointed leaf also has no partitioning info
    // to reuse). Everything else must stay broadcast-hash.
    assert("SortMergeJoin".r.findAllIn(p).size <= 2,
      s"only the two cell-map joins may sort-merge:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), "only the 1-row query side may nest-loop")
    // the model tables must be LITERALS (LocalTableScan), not live agg
    // subtrees — re-planning them per reference was the 1.5s/action trap
    assert(p.contains("LocalTableScan"),
      s"codebook/residual-codebook must be literal LocalRelations:\n${p.take(800)}")
    // the cell map must be a checkpoint leaf (an RDD scan), so the d2
    // aggregation is planned and executed once, not per reference
    assert(p.contains("Scan ExistingRDD"),
      s"cell map must be a localCheckpoint leaf:\n${p.take(800)}")
  }

  test("d31: unigram table broadcasts back; partial aggregation before every exchange; no cartesian") {
    val p = planOf("d31_collocations")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both unigram join-backs must broadcast:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), "only the 1-row corpus-total side may nest-loop")
    assert(p.contains("partial_count"), "bigram/unigram counts must combine map-side")
    assert(p.contains("TakeOrderedAndProject"), "global top-50 must be a TakeOrdered, not a sort")
  }

  test("d32: the bounded reference gram table broadcasts; target grams never sort-merge; no cartesian") {
    val p = planOf("d32_contam_attribution")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval-suite gram side must broadcast:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "attribution went all-pairs")
    assert(p.contains("partial_count"), "match-volume agg must combine map-side")
  }

  test("d26: variant join is a keyed shuffle join — no cartesian, no broadcast of a corpus-derived side") {
    val p = planOf("d26_typo_pairs")
    assert(!p.contains("CartesianProduct"), "typo mining went all-pairs")
    // both join sides are the corpus-derived variant expansion: neither
    // may broadcast (vocab grows with the corpus — the d20 lesson)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"corpus-derived variant side must not broadcast:\n${p.take(800)}")
  }

  test("d27: sampling filter adds no exchange over the d25 score shape") {
    val p25 = planOf("d25_lm_surprisal")
    val p27 = planOf("d27_importance_sample")
    def nEx(p: String) = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(nEx(p27) === nEx(p25),
      s"importance sampling must be a pure filter over the score plan: ${nEx(p27)} vs ${nEx(p25)}")
    assert(!p27.contains("SortMergeJoin") && !p27.contains("CartesianProduct"))
  }

  test("d28: rank window partitions by (shard, bucket) — no shard-serial sort; offsets broadcast") {
    val p = planOf("d28_train_order")
    assert("""row_number\(\) windowspecdefinition\(shard#\d+L?, bucket#\d+""".r
      .findFirstIn(p).isDefined,
      s"two-level rank lost its bucket key — a dominant shard would serialize:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"), "128-row offsets side must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("e10: semdedup edge generation is bucket-join bounded — no cartesian") {
    val p = planOf("e10_semdedup")
    assert(!p.contains("CartesianProduct"), "edge generation went all-pairs")
  }

  test("e09: quota sample is assignment-scan + ONE cluster exchange with WindowGroupLimit") {
    val p = planOf("e09_cluster_sample")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"), "assignment must not join")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1,
      s"cluster sample gained a shuffle:\n${p.take(800)}")
    assert(p.contains("WindowGroupLimit"), "rank<=20 not pushed below the sort")
  }

  test("e08: assignment is a scan-parallel fold — one shuffle (centroid update), no joins") {
    val p = planOf("e08_kmeans_step")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"), "assignment must not join")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1,
      s"kmeans step gained a shuffle:\n${p.take(800)}")
  }

  test("d20: verification joins are equi-joins; no cartesian anywhere") {
    val p = planOf("d20_neardup_verified")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"verification must join on doc ids only:\n${p.take(800)}")
  }

  test("d20: NOTHING broadcasts — the pair side grows with the corpus") {
    // the pair side's static estimate (post agg + double explode) is
    // garbage-small; an unhinted plan broadcast 31.5 M pairs at sf10 and
    // OOM'd the driver. Join 1 shuffled-hash builds the NARROW pair rows
    // (merge would sort the corpus-sized wide shingle arrays); join 2
    // must stay merge — its smaller side carries a full shingle set per
    // pair row and an SHJ build is not spillable (sf10 2 GiB failure).
    val p = planOf("d20_neardup_verified")
    assert(!p.contains("BroadcastExchange"),
      s"d20 reintroduced a broadcast of an unbounded side:\n${p.take(800)}")
    assert(p.contains("ShuffledHashJoin"),
      "join 1 must shuffled-hash-build the narrow pair side")
    assert(p.contains("SortMergeJoin"),
      "join 2 must stay a spillable sort-merge (SHJ build dies at sf10)")
  }

  test("d22: packing cumsum is sub-sharded — no shard-serial sort task") {
    val p = planOf("d22_sequence_pack")
    // never a single global ordering
    assert(!p.contains("Exchange SinglePartition"),
      "packing serialized through one partition")
    // the corpus-sized stream shuffles ONCE: the explicit
    // (lang, source, sub) repartition feeds both the window and the
    // sub-total aggregation; the only other exchanges carry
    // one-row-per-sub-shard base offsets
    // (statically the shared repartition subtree prints twice — AQE
    // dedupes it at runtime, asserted on the executed plan below)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 4,
      s"packing gained a shuffle:\n${p.take(800)}")
    val df = Registry.queries("d22_sequence_pack")(spark, sfDir)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("ReusedExchange"),
      "window + sub-total agg must share one corpus exchange")
    // the doc-stream window must be partitioned by the sub-shard key,
    // not just (lang, source) — a dominant shard must parallelize
    assert("""windowspecdefinition\(lang#\d+, source#\d+, sub#\d+L""".r
      .findFirstIn(p).isDefined,
      s"doc cumsum window lost the sub-shard key:\n${p.take(800)}")
    // the base-offset join must not broadcast a post-agg side
    assert(!p.contains("BroadcastExchange"),
      s"packing broadcasts a post-agg side (d20 lesson):\n${p.take(800)}")
  }

  test("d23: rate sample is a pure scan-parallel filter — ZERO exchanges") {
    val p = planOf("d23_rate_sample")
    assert(!p.contains("Exchange"), s"rate sample gained a shuffle:\n${p.take(600)}")
  }

  test("d37: Gopher rule battery is a pure per-row map — ZERO exchanges") {
    val p = planOf("d37_gopher_rules")
    assert(!p.contains("Exchange"),
      s"rule battery gained a shuffle (the top-token fold must stay per-row):\n${p.take(600)}")
  }

  test("d38: hashed linear scorer is a pure per-row map — ZERO exchanges") {
    val p = planOf("d38_hashed_quality")
    assert(!p.contains("Exchange"), s"hashed scorer gained a shuffle:\n${p.take(600)}")
  }

  test("d41: merge APPLICATION is a pure per-row map — ZERO exchanges (mining collects at construct)") {
    val p = planOf("d41_bpe_apply")
    assert(!p.contains("Exchange"),
      s"merge application gained a shuffle (the replace chain must stay per-row over literal merges):\n${p.take(600)}")
  }

  test("q42: fact rows pre-aggregate at the finest grouping BEFORE Expand") {
    val p = planOf("q42_rollup")
    assert(p.contains("Expand"), s"rollup lost its Expand:\n${p.take(600)}")
    // leaf pre-agg must sit BELOW the Expand: the fact scan feeds a
    // partial aggregate keyed on (flag, status), and only the tiny leaf
    // aggregate is expanded per rollup level — expanding first would
    // triple the rows entering partial aggregation (the 100 TB killer).
    // formatted plans print root-first, so an operator BELOW Expand in
    // the tree appears AFTER it in the string
    val expandIdx = p.indexOf("Expand")
    assert(expandIdx >= 0 && p.indexOf("HashAggregate", expandIdx) > 0,
      s"Expand must consume the leaf aggregate, not fact rows:\n${p.take(800)}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size <= 1,
      "rollup must not rescan per level")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2,
      s"rollup gained a shuffle beyond leaf agg + rollup agg:\n${p.take(600)}")
  }

  test("d39: one scan, one fp exchange + rollup, NO join anywhere") {
    val p = planOf("d39_source_report")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2,
      s"report gained a shuffle beyond fp spread + rollup:\n${p.take(800)}")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "copy counting must be the fp window, not a self-join")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size <= 1,
      "documents scanned twice")
  }

  test("e17: anchor side broadcasts; no sort-merge join") {
    val p = planOf("e17_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row anchor not broadcast:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q41: quantile-sketch probe side broadcasts (bounded: one row per event_type)") {
    val p = planOf("q41_approx_quantile")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"bounded probe side not broadcast:\n${p.take(600)}")
  }

  test("d21: single-pass window count — no join, chunk stream crosses one md5 exchange") {
    val df = Registry.queries("d21_dup_chunks")(spark, sfDir)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    // the n_occ annotation is a window over the md5 partition: the old
    // freq-agg + probe-join shape (one extra stage wave over the same
    // exchange) must not come back
    assert(ep.contains("Window"), s"d21 lost its window formulation:\n${ep.take(600)}")
    assert(!ep.contains("SortMergeJoin") && !ep.contains("ShuffledHashJoin") &&
      !ep.contains("BroadcastHashJoin"), "d21 regained a corpus-sized join")
    assert(!ep.contains("CartesianProduct"))
    val md5Ex = PlanInspect.shuffles(df).filter(_.output.exists(_.name == "chunk_md5"))
    assert(md5Ex.size == 1,
      s"d21: expected exactly one chunk_md5 exchange, got ${md5Ex.size}")
  }

  test("e06: KNN self-join reuses one bucket exchange; no cartesian") {
    val df = Registry.queries("e06_knn_join")(spark, sfDir)
    df.collect() // AQE exchange reuse is only visible on the EXECUTED plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ReusedExchange"),
      "both sides of the bucket self-join must share the repartition(bkt) exchange")
  }

  test("e11/e12: production-geometry gates keep the e05/e06 plan shape") {
    for (name <- Seq("e11_neardup_dense", "e12_knn_dense")) {
      val df = Registry.queries(name)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name gained a cartesian")
      assert(p.contains("ReusedExchange"),
        s"$name: bucket self-join must share the repartition(bkt) exchange")
    }
  }

  test("e22: predicate scan prunes to (doc_id, lang) — text never enters the filter side") {
    val p = planOf("e22_filtered_ann")
    // Anchor on the documents scan NODE, not whole-plan substrings:
    // a bare !p.contains("text") also trips on unrelated tokens
    // ("context") and scan-node renames across Spark versions
    // ("DataSourceV2" contains "source"). The formatted explain gives
    // each scan its own block — find the documents scan's ReadSchema
    // and assert on the actual column set it reads.
    val docsSchemas = """ReadSchema: struct<([^>]*)>""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
      .filter(s => s.contains("doc_id:"))
    assert(docsSchemas.nonEmpty,
      s"no documents scan (ReadSchema with doc_id) found:\n${p.take(800)}")
    val fieldNames = docsSchemas.map(_.split(",").map(_.split(":")(0).trim).toSet)
    assert(fieldNames.forall(_ == Set("doc_id", "lang")),
      s"documents scan must read exactly (doc_id, lang), got $fieldNames:\n${p.take(800)}")
    // the lang predicate reaches the documents parquet scan: the filter
    // side is corpus-CARDINALITY but must stay bytes-narrow at 100 TB.
    assert(p.contains("PushedFilters") && p.contains("lang"),
      s"lang filter not pushed to the documents scan:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), "e22 gained a cartesian")
  }

  // The MIMIC library bodies that took the battery's join-free shapes
  // (q10 and q22 adapt denseGrid and summary; readmissionLabel has no
  // battery adapter), pinned directly on parquet inputs.
  private def parquetOf(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft-plan").toString + "/t"
    df.write.parquet(p)
    spark.read.parquet(p)
  }
  private def joinsOf(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.nodeName }

  test("Cohort.readmissionLabel: one per-subject range window, NO join") {
    val df = graft.mimic.Cohort.readmissionLabel(
      parquetOf(graft.mimic.Fixtures.icustays(spark)), graft.mimic.Cohort.icuRoles, 30)
    assert(joinsOf(df).isEmpty, s"readmission labeling joins:\n${df.queryExecution.sparkPlan}")
  }

  test("Datagen.denseGrid: one keyed groupBy + explode, NO join") {
    import spark.implicits._
    val b = parquetOf(Seq((11L, 700L, 0L, 1.0), (11L, 700L, 2L, 3.0))
      .toDF("stay_id", "itemid", "t", "valuenum"))
    val df = graft.mimic.Datagen.denseGrid(b, losBuckets = 4)
    assert(joinsOf(df).isEmpty, s"dense grid joins:\n${df.queryExecution.sparkPlan}")
  }

  test("Features.summary: scans its input ONCE, NO join") {
    import spark.implicits._
    val ev = parquetOf(Seq((11L, 600L, 0.0), (11L, 600L, 2.0), (12L, 601L, 4.0))
      .toDF("stay_id", "itemid", "amount"))
    val df = graft.mimic.Features.summary(ev, "itemid", Some(col("amount") === 0))
    val plan = df.queryExecution.sparkPlan
    assert(plan.collectLeaves().size === 1, s"summary scans its input twice:\n$plan")
    assert(joinsOf(df).isEmpty, s"summary joins:\n$plan")
  }
}
