package graft.curation

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{PlanInspect, SparkSpec}
import graft.queries.Registry

/** End-to-end curation pipeline on sf0.001, asserted EQUIVALENT to the
  * oracle-checked d13 flagship (same gates, same dedup machinery) —
  * the pipeline is the user API, d13 is its cross-engine correctness
  * twin. */
class CurationPipelineSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** d13's lang gate, as the pipeline's pluggable custom gate. */
  private def langGate(df: org.apache.spark.sql.DataFrame) = {
    def cnt(w: String*) = size(filter(col("ws"), x => x.isin(w: _*))).cast("long")
    val s1 = cnt("the", "a"); val s2 = cnt("data", "spark", "stream")
    val s3 = cnt("join", "merge", "hash")
    df.filter(s1 >= s2 && s1 >= s3)
  }

  test("stage counts decrease; survivors equal the d13 flagship; corpus is partitioned") {
    val out = Files.createTempDirectory("graft-curation-pipe").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out, customGate = langGate)

    assert(counts.map(_._1) ===
      Seq("01_gated", "02_exact", "03_clean", "04_corpus", "05_chunks"))
    val byName = counts.toMap
    assert(byName("01_gated") >= byName("02_exact"))
    assert(byName("02_exact") >= byName("03_clean"))
    assert(byName("03_clean") >= byName("04_corpus"))
    assert(byName("04_corpus") > 0)

    // survivors == oracle-checked d13 output
    val pipelineIds = spark.read.parquet(s"$out/04_corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val d13Ids = Registry.queries("d13_corpus_clean")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(pipelineIds === d13Ids,
      s"pipeline survivors diverge from d13: ${pipelineIds.length} vs ${d13Ids.length}")

    // chunks belong exclusively to survivors and cover each of them
    val chunkIds = spark.read.parquet(s"$out/05_chunks")
      .select("doc_id").distinct().collect().map(_.getLong(0)).sorted
    assert(chunkIds === pipelineIds)

    // CorpusSink layout: hive-partitioned by lang
    val langDirs = new java.io.File(s"$out/04_corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("lang="))
    assert(langDirs.nonEmpty)
  }

  test("stages 1-3 equal d13's: 03_clean ids are corpusCleanSigDf's on sf0.001 and on sharp-edge docs") {
    import spark.implicits._
    val w = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // ids % 20 == 0 are the benchmark: null, empty, 3-token and one
    // 5-token doc (the only benchmark gram). Targets: contaminated (1),
    // kept (2, 9: four of the five gram words), exact copy of 2 (3),
    // null / empty / short / repetitive (4-7), lang-gated (8).
    val fixture = Seq[(Long, String)](
      (0L, null), (20L, ""), (40L, "quick brown fox"), (60L, "the quick brown fox jumps"),
      (1L, s"$w the quick brown fox jumps"), (2L, s"$w one two"), (3L, s"$w one two"),
      (4L, null), (5L, ""), (6L, "a b c d"), (7L, Seq.fill(12)("x").mkString(" ")),
      (8L, s"$w data spark stream"), (9L, s"$w the quick brown fox"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("web").as("source"),
        length(col("text")).cast("long").as("n_chars"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    for ((name, docs) <- Seq("sf0.001" -> Registry.t(spark, sfDir, "documents"), "fixture" -> fixture)) {
      val out = Files.createTempDirectory("graft-curation-d13").toString
      CurationPipeline.run(spark, docs, out, customGate = langGate)
      val staged = ids(spark.read.parquet(s"$out/03_clean"))
      assert(staged === ids(graft.queries.Docs.corpusCleanSigDf(docs)), name)
      if (name == "fixture") assert(staged === Seq(2L, 9L))
      else assert(staged.nonEmpty)
    }
  }

  test("bpeMerges stage: merge artifact + encoded corpus equal the d41 body over the selected corpus") {
    val out = Files.createTempDirectory("graft-curation-bpe").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(chunk = false, bpeMerges = Some(8)),
      customGate = langGate)
    assert(counts.map(_._1).takeRight(2) === Seq("08_bpe/merges", "08_bpe/encoded"))

    val corpus = spark.read.parquet(s"$out/04_corpus")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_words", "chars_total", "syms_total", "enc_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    // encoded stage == the oracle-pinned d41 body applied to the same corpus
    assert(rows(spark.read.parquet(s"$out/08_bpe/encoded")) ===
      rows(graft.queries.Docs.bpeApplyDf(corpus)))
    // merge artifact == the mining body (set + count equality)
    val stageMerges = spark.read.parquet(s"$out/08_bpe/merges")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val bodyMerges = graft.queries.Docs.bpeMergesEligibleDf(corpus, 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(stageMerges === bodyMerges)
    // merges really compress something on this corpus
    val enc = rows(spark.read.parquet(s"$out/08_bpe/encoded"))
    assert(enc.exists(r => r._4 < r._3))
  }

  test("RateSample selection equals the d23 gate restricted to survivors; pack stage equals d22's offsets") {
    val out = Files.createTempDirectory("graft-curation-sel").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(packCtx = Some(512L)),
      customGate = langGate,
      selection = CurationPipeline.RateSample(0.1)).toMap

    val survivors = spark.read.parquet(s"$out/04_corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val selected = spark.read.parquet(s"$out/04b_selected")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the oracle-pinned d23 gate, restricted to survivors, IS the stage
    val d23 = Registry.queries("d23_rate_sample")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selected === (d23 & survivors))
    assert(counts("04b_selected") === selected.size.toLong)

    // chunks and pack offsets are computed over the SELECTED corpus
    val chunkIds = spark.read.parquet(s"$out/05_chunks")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(chunkIds === selected)
    val pack = spark.read.parquet(s"$out/06_pack")
    assert(pack.select("doc_id").collect().map(_.getLong(0)).toSet === selected)
    // d22's oracle-pinned formulation over the same selected docs
    val expect = graft.queries.Docs.sequencePack(
      spark.read.parquet(s"$out/04b_selected"), 512L)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val got = pack.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(got === expect)
  }

  test("surprisal gate: stage 1 equals the d25 scores cut at the threshold") {
    val out = Files.createTempDirectory("graft-curation-surp").toString
    val docs = Registry.t(spark, sfDir, "documents")
    // pick a mid-distribution threshold so the gate actually splits
    val scores = Registry.queries("d25_lm_surprisal")(spark, sfDir)
      .select(col("doc_id"), col("milli_bits_per_token"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val thr = scores.values.toSeq.sorted.apply(scores.size / 2)
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(maxSurprisalMilliBits = Some(thr)),
      customGate = langGate).toMap

    val gatedIds = spark.read.parquet(s"$out/01_gated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gatedIds.nonEmpty && counts("01_gated") === gatedIds.size.toLong)
    // every survivor scores at or under the threshold (oracle-pinned d25)
    assert(gatedIds.forall(id => scores(id) <= thr))
    // and the gate dropped ONLY over-threshold docs: re-running without
    // the surprisal gate and cutting by the d25 scores gives the same set
    val out2 = Files.createTempDirectory("graft-curation-surp2").toString
    CurationPipeline.run(spark, docs, out2, customGate = langGate)
    val plainIds = spark.read.parquet(s"$out2/01_gated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gatedIds === plainIds.filter(id => scores(id) <= thr))
  }

  test("keepPplBuckets: triage artifact equals the d44 gate; only tail docs drop; bad sets fail fast") {
    val out = Files.createTempDirectory("graft-curation-ppl").toString
    val docs = Registry.t(spark, sfDir, "documents")
    // the oracle-pinned d44 split on the same corpus
    val d44 = Registry.queries("d44_ccnet_buckets")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(keepPplBuckets = Some(Set("head", "middle"))),
      customGate = langGate).toMap

    // the stage artifact IS the d44 table
    val artifact = spark.read.parquet(s"$out/01_ppl")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(artifact === d44)
    assert(counts("01_ppl") === d44.size.toLong)

    // survivors: exactly the bucket-keep restriction of the plain run
    val gatedIds = spark.read.parquet(s"$out/01_gated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gatedIds.nonEmpty && gatedIds.forall(id => d44(id) != "tail"))
    val out2 = Files.createTempDirectory("graft-curation-ppl2").toString
    CurationPipeline.run(spark, docs, out2, customGate = langGate)
    val plainIds = spark.read.parquet(s"$out2/01_gated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gatedIds === plainIds.filter(id => d44(id) != "tail"))

    // a typo'd bucket set must fail before any stage writes
    val outBad = Files.createTempDirectory("graft-curation-pplbad").toString
    intercept[IllegalArgumentException] {
      CurationPipeline.run(spark, docs, outBad,
        cfg = CurationPipeline.Config(keepPplBuckets = Some(Set("heda"))))
    }
    assert(!new java.io.File(s"$outBad/01_ppl").exists())
  }

  test("resume: a completed 01_ppl builds no d44 plan, so registers no cache entry") {
    val out = Files.createTempDirectory("graft-curation-ppl-resume").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val cfg = CurationPipeline.Config(keepPplBuckets = Some(Set("head", "middle")))
    val counts = CurationPipeline.run(spark, docs, out, cfg = cfg, customGate = langGate)
    val marker = new java.io.File(s"$out/01_ppl/_SUCCESS").lastModified()
    // poisoned raw input without `lang`: building d44's scored frame —
    // the plan its persist registers — fails analysis, so the resumed
    // run succeeds only if the 01_ppl thunk never runs
    val resumed = CurationPipeline.run(spark, docs.drop("lang"), out,
      cfg = cfg.copy(resume = true), customGate = langGate)
    assert(resumed === counts)
    assert(new java.io.File(s"$out/01_ppl/_SUCCESS").lastModified() === marker,
      "01_ppl was rewritten on resume")
  }

  test("gopher + hashed-score gates: stage 1 equals the d37/d38 oracle cuts") {
    val docs = Registry.t(spark, sfDir, "documents")
    val keep37 = Registry.queries("d37_gopher_rules")(spark, sfDir)
      .filter(col("keep") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val scores38 = Registry.queries("d38_hashed_quality")(spark, sfDir)
      .select(col("doc_id"), col("score_milli"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val thr = scores38.values.toSeq.sorted.apply(scores38.size / 2)

    val out = Files.createTempDirectory("graft-curation-g37").toString
    CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(gopherRules = true,
        minHashedScoreMilli = Some(thr)),
      customGate = langGate)
    val gatedIds = spark.read.parquet(s"$out/01_gated")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val out2 = Files.createTempDirectory("graft-curation-g37b").toString
    CurationPipeline.run(spark, docs, out2, customGate = langGate)
    val plainIds = spark.read.parquet(s"$out2/01_gated")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    assert(gatedIds.nonEmpty)
    assert(gatedIds ===
      plainIds.filter(id => keep37(id) && scores38(id) >= thr),
      "pipeline gates must equal the oracle-pinned d37 keep ∩ d38 threshold cut")
  }

  test("corpusReport artifacts equal the d39/d40 gate outputs on the raw corpus") {
    val out = Files.createTempDirectory("graft-curation-rep").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(corpusReport = true),
      customGate = langGate).toMap
    assert(counts.contains("00_report/source") && counts.contains("00_report/zipf"))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(sorted(spark.read.parquet(s"$out/00_report/source")) ===
      sorted(Registry.queries("d39_source_report")(spark, sfDir)))
    assert(sorted(spark.read.parquet(s"$out/00_report/zipf")) ===
      sorted(Registry.queries("d40_zipf_report")(spark, sfDir)))
  }

  test("ClusterBalanced selection keeps <= quota per cluster, sampled from survivors") {
    val out = Files.createTempDirectory("graft-curation-cb").toString
    val docs = Registry.t(spark, sfDir, "documents")
    // embeddings keyed by doc_id (vec_id = doc_id contract): reuse the
    // fixture embeddings table's vectors, re-keyed onto surviving ids
    val emb = Registry.t(spark, sfDir, "embeddings")
      .withColumn("vec_id", col("vec_id") % 500L)
      .dropDuplicates("vec_id")
    CurationPipeline.run(spark, docs, out,
      customGate = langGate,
      selection = CurationPipeline.ClusterBalanced(emb, quota = 3))
    val survivors = spark.read.parquet(s"$out/04_corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val selected = spark.read.parquet(s"$out/04b_selected")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selected.nonEmpty && selected.subsetOf(survivors))
    // equivalence to the e09 machinery on the survivor-restricted input
    val survEmb = emb.join(
      spark.read.parquet(s"$out/04_corpus").select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val expect = graft.queries.Sim.clusterSampleDf(survEmb, 3)
    assert(expect.select("vec_id").collect().map(_.getLong(0)).toSet === selected)
    // quota bound per cluster
    val over = expect.groupBy("cluster").count().filter(col("count") > 3).count()
    assert(over === 0)
  }

  test("resume recomputes only the stages past the last good dir") {
    // a plain path and a file:// URI: resume must find the stage
    // markers through Hadoop's FileSystem, not a driver-local File
    for (asUri <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft-curation-resume").toString
      val out = if (asUri) s"file://$dir" else dir
      val docs = Registry.t(spark, sfDir, "documents")
      val counts = CurationPipeline.run(spark, docs, out, customGate = langGate)

      // simulate a crash after stage 3: later outputs gone, 01-03 intact
      def rm(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles().foreach(rm)
        p.delete(); ()
      }
      rm(new java.io.File(s"$dir/04_corpus"))
      rm(new java.io.File(s"$dir/05_chunks"))
      val markers = Seq("01_gated", "02_exact", "03_clean")
        .map(n => n -> new java.io.File(s"$dir/$n/_SUCCESS").lastModified())

      // poisoned raw input: same schema, garbage text. If ANY of stages
      // 1-3 recomputed, every doc would fail the min-token gate and the
      // resumed counts would cascade to zero.
      val poisoned = docs.withColumn("text", lit("x"))
      val resumed = CurationPipeline.run(spark, poisoned, out,
        cfg = CurationPipeline.Config(resume = true), customGate = langGate)

      assert(resumed === counts, s"resumed counts diverge from the original run ($out)")
      markers.foreach { case (n, t) =>
        assert(new java.io.File(s"$dir/$n/_SUCCESS").lastModified() === t,
          s"stage $n was rewritten on resume ($out)") }
    }
  }

  test("resume honors a completed 04a_spans dir without recomputing it") {
    val out = Files.createTempDirectory("graft-curation-resume-span").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val cfg = CurationPipeline.Config(spanDedup = true, chunk = false)
    val counts = CurationPipeline.run(spark, docs, out, cfg = cfg, customGate = langGate)
    val marker = new java.io.File(s"$out/04a_spans/_SUCCESS").lastModified()
    // resume from a poisoned input: if 04a recomputed from scratch, the
    // rebuilt corpus would collapse (upstream dirs are still good, so
    // the only way the counts diverge is 04a itself re-running)
    val resumed = CurationPipeline.run(spark,
      docs.withColumn("text", lit("x")), out,
      cfg = cfg.copy(resume = true), customGate = langGate)
    assert(resumed === counts)
    assert(new java.io.File(s"$out/04a_spans/_SUCCESS").lastModified() === marker,
      "04a_spans was rewritten on resume")
  }

  test("Bloom decontam: survivors are a subset of the exact stage's, real hits all dropped") {
    val outA = Files.createTempDirectory("graft-curation-exact").toString
    val outB = Files.createTempDirectory("graft-curation-bloom").toString
    val docs = Registry.t(spark, sfDir, "documents")
    CurationPipeline.run(spark, docs, outA, customGate = langGate)
    CurationPipeline.run(spark, docs, outB,
      cfg = CurationPipeline.Config(decontam = CurationPipeline.BloomGrams(0.001)),
      customGate = langGate)
    val exactClean = spark.read.parquet(s"$outA/03_clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloomClean = spark.read.parquet(s"$outB/03_clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // one-sided error: the Bloom filter can only OVER-drop — a doc the
    // exact anti-join removed (a real benchmark hit) must never survive
    assert(bloomClean.subsetOf(exactClean),
      s"bloom kept ${(bloomClean -- exactClean).take(5)} that exact dropped")
    // and at fpp=0.1% on this corpus no clean doc should be lost either
    // (deterministic: Bloom hashing has no runtime randomness)
    assert(bloomClean === exactClean)
    // downstream stages still run on the filtered frame
    assert(spark.read.parquet(s"$outB/04_corpus").count() > 0)
  }

  test("NearDup decontam: stage 3 equals the shared d29 body over survivors ∪ benchmark; resume honors it") {
    val out = Files.createTempDirectory("graft-curation-neardup").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(decontam = CurationPipeline.NearDup),
      customGate = langGate).toMap

    val exact = spark.read.parquet(s"$out/02_exact")
    val clean = spark.read.parquet(s"$out/03_clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // expectation composed independently from the same shared body the
    // d29 gate runs (oracle-pinned): targets minus cross-near-dups of
    // the benchmark snapshot
    val isBench = (c: org.apache.spark.sql.Column) => c % 20 === 0
    val targets = exact.filter(!isBench(col("doc_id")))
    val union = targets.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(isBench(col("doc_id"))).select(col("doc_id"), col("text")))
    val contaminated = graft.queries.Docs
      .crossNeardupContaminatedIds(union, isBench)
      .collect().map(_.getLong(0)).toSet
    val expected = targets.select("doc_id").collect().map(_.getLong(0)).toSet -- contaminated
    assert(clean === expected)
    assert(counts("03_clean") === expected.size.toLong)
    assert(counts("04_corpus") > 0L)

    // resume contract covers the engine: a second run with resume=true
    // must not rewrite the completed 03_clean dir
    val marker = new java.io.File(s"$out/03_clean/_SUCCESS").lastModified()
    val resumed = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(
        decontam = CurationPipeline.NearDup, resume = true),
      customGate = langGate).toMap
    assert(resumed === counts)
    assert(new java.io.File(s"$out/03_clean/_SUCCESS").lastModified() === marker,
      "03_clean was rewritten on resume")
  }

  test("Semantic decontam: stage 3 equals the shared e14 body; unembedded survivors are kept") {
    val out = Files.createTempDirectory("graft-curation-sem").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val emb = Registry.t(spark, sfDir, "embeddings")
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(
        decontam = CurationPipeline.Semantic(emb, threshold = 0.2)),
      customGate = langGate).toMap

    val exact = spark.read.parquet(s"$out/02_exact")
    val clean = spark.read.parquet(s"$out/03_clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val isBench = (c: org.apache.spark.sql.Column) => c % 20 === 0
    val targetIds = exact.filter(!isBench(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // expectation from the same shared body the e14 gate runs
    val refEmb = emb.filter(isBench(col("vec_id"))).select(col("embedding"))
    val tgtEmb = emb.filter(!isBench(col("vec_id")))
      .filter(col("vec_id").isin(targetIds.toSeq: _*))
    val covered = tgtEmb.select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = graft.queries.Sim.semanticDecontamKeepDf(tgtEmb, refEmb, 0.2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = (targetIds -- covered) ++ kept
    assert(clean === expected)
    assert(counts("03_clean") === expected.size.toLong)
    // survivors with no embedding row must all be kept
    assert((targetIds -- covered).subsetOf(clean))
  }

  test("stoplist stage equals d24's top-K terms; stop-fraction gate drops exactly the boilerplate docs") {
    val docs = Registry.t(spark, sfDir, "documents")
    // choose a threshold that actually splits the corpus: median of the
    // per-doc top-20-stop-term fraction
    val stops = graft.queries.Docs.topTermsDf(docs, 20)
      .select("term").collect().map(_.getString(0)).sorted
    val stopLit = array(stops.map(lit(_)): _*)
    val ws = graft.queries.Docs.words(col("text"))
    val fracs = docs.select(col("doc_id"),
      (size(filter(ws, w => array_contains(stopLit, w))).cast("double") /
        size(ws).cast("double")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val thr = fracs.values.toSeq.sorted.apply(fracs.size / 2)

    val out = Files.createTempDirectory("graft-curation-stop").toString
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(stopTopK = Some(20), maxStopFrac = Some(thr)),
      customGate = langGate).toMap
    assert(counts.contains("00_stoplist") && counts("00_stoplist") === 20L)

    // artifact == the oracle-checked d24 shape's exact top-K
    val stageTerms = spark.read.parquet(s"$out/00_stoplist")
      .select("term").collect().map(_.getString(0)).sorted
    assert(stageTerms === stops)

    // gate equivalence: a run WITHOUT the stop gate, cut by the
    // spec-computed fractions, gives the same stage-1 set
    val out2 = Files.createTempDirectory("graft-curation-stop2").toString
    CurationPipeline.run(spark, docs, out2, customGate = langGate)
    val gated = spark.read.parquet(s"$out/01_gated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = spark.read.parquet(s"$out2/01_gated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gated === plain.filter(id => fracs(id) <= thr))
    assert(gated.nonEmpty && gated.size < plain.size, "threshold did not split")
  }

  test("ImportanceSample selection equals the shared d27 body over the surviving corpus") {
    val out = Files.createTempDirectory("graft-curation-imp").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out,
      customGate = langGate,
      selection = CurationPipeline.ImportanceSample(
        fullKeepMilliBits = 4000L, zeroKeepMilliBits = 6000L)).toMap

    val corpus = spark.read.parquet(s"$out/04_corpus")
    val selected = spark.read.parquet(s"$out/04b_selected")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the shared DataFrame body over the survivors IS the stage — same
    // model (survivor unigram), same integer coin flip
    val expect = graft.queries.Docs.importanceSampleDf(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selected === expect)
    assert(counts("04b_selected") === selected.size.toLong)
    val survivors = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selected.nonEmpty && selected.subsetOf(survivors))
    assert(selected.size < survivors.size, "importance coin dropped nothing")
    // chunks follow the selection
    val chunkIds = spark.read.parquet(s"$out/05_chunks")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(chunkIds === selected)
  }

  test("train-order stage equals the shared d28 body; per-shard positions are a contiguous bijection") {
    val out = Files.createTempDirectory("graft-curation-ord").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(chunk = false, orderShards = Some(8)),
      customGate = langGate).toMap

    val order = spark.read.parquet(s"$out/07_order")
    val got = order.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val selected = spark.read.parquet(s"$out/04_corpus")
    val expect = graft.queries.Docs.trainOrderDf(selected, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted === expect.sorted)
    assert(counts("07_order") === got.length.toLong)
    // every selected doc is ordered exactly once
    assert(got.map(_._1).sorted ===
      selected.select("doc_id").collect().map(_.getLong(0)).sorted)
    // within each shard, train_pos is exactly 0..n-1 (no gaps, no dups)
    got.groupBy(_._2).foreach { case (shard, rows) =>
      val pos = rows.map(_._3).sorted
      assert(pos === (0L until rows.length.toLong).toArray,
        s"shard $shard positions not contiguous: ${pos.take(5).mkString(",")}...")
    }
  }

  test("span-dedup stage: rebuilt text fingerprints equal the d30 gate on the same corpus") {
    val out = Files.createTempDirectory("graft-curation-span").toString
    val docs = Registry.t(spark, sfDir, "documents")
    CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(spanDedup = true, chunk = false),
      customGate = langGate)
    val spans = spark.read.parquet(s"$out/04a_spans")
    // the stage runs over the 04_corpus survivors via the SHARED d30
    // body — the gate's clean_md5 over the same input must equal the
    // md5 of the stage's rebuilt text, doc by doc
    val corpus = spark.read.parquet(s"$out/04_corpus")
    val gate = graft.queries.Docs.spanBlocksFlagged(corpus)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("kb"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("k"), col("content"))))),
            x => x.getField("content")),
          " ").cast("binary")).as("clean_md5"))
    val gateMap = gate.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val stageMap = spans.select(col("doc_id"), md5(col("text").cast("binary")).as("m"),
        length(col("text")).cast("long").as("len"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(stageMap.keySet === gateMap.filter(_._2._1 > 0).keySet,
      "stage must keep exactly the docs with >= 1 surviving block")
    stageMap.foreach { case (id, (m, len, nchars)) =>
      assert(m === gateMap(id)._2, s"doc $id rebuilt text diverges from the d30 body")
      assert(nchars === len, s"doc $id n_chars not recomputed")
    }
    // downstream schema unchanged (selection/chunk/pack read it)
    assert(spans.columns.sorted === corpus.columns.sorted)
  }

  test("benchMod = 0 disables decontamination") {
    val out = Files.createTempDirectory("graft-curation-nodc").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = CurationPipeline.Config(benchMod = 0L, chunk = false),
      customGate = langGate).toMap
    assert(counts("03_clean") === counts("02_exact"))
    assert(!counts.contains("05_chunks"))
  }

  test("lshBanding sweep: d42 grid labels drive stage 4; sensitivity monotone; default unchanged") {
    val docs = Registry.t(spark, sfDir, "documents")
    def survivors(cfg: CurationPipeline.Config): Set[Long] = {
      val out = Files.createTempDirectory("graft-curation-banding").toString
      CurationPipeline.run(spark, docs, out, cfg = cfg)
      spark.read.parquet(s"$out/04_corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val base = CurationPipeline.Config(benchMod = 0L, chunk = false)
    val s8 = survivors(base.copy(lshBanding = "b8r1"))
    val s4 = survivors(base.copy(lshBanding = "b4r2"))
    val s2 = survivors(base.copy(lshBanding = "b2r4"))
    assert(s4 === survivors(base), "explicit b4r2 must equal the default banding")
    // d42's candidate-subset property carried to deployment: finer
    // bands see every coarser banding's matches, so clustering only
    // coarsens and the min-id survivor set only shrinks
    assert(s8.subsetOf(s4) && s4.subsetOf(s2),
      s"banding sensitivity not monotone: |b8r1|=${s8.size} |b4r2|=${s4.size} |b2r4|=${s2.size}")
    assert(s8.nonEmpty)
    // a label outside the d42 grid fails BEFORE any stage writes
    val bad = Files.createTempDirectory("graft-curation-badband").toFile
    intercept[IllegalArgumentException] {
      CurationPipeline.run(spark, docs, bad.toString,
        cfg = base.copy(lshBanding = "b16r1"))
    }
    assert(bad.listFiles() == null || bad.listFiles().isEmpty,
      "bad banding label must fail before any stage output is written")
  }

  test("keeperBySource: priority source wins the cluster; cluster count is rule-invariant") {
    import spark.implicits._
    val dupA = "the quick brown fox jumps over the lazy dog today and tomorrow"
    val dupB = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // near-dup (NOT byte-identical — one word differs) cross-source
    // pair: exercises the stage-4 rule; the dupA pair is byte-identical
    // and exercises the stage-2 rule
    val nearC1 = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    val nearC2 = "one two three four five six seven eight nine ten eleven twelve thirteen fifteen"
    val docs = Seq(
      (1L, dupA, "b_crawl"), // exact pair {1,2}: b_crawl copy arrived first...
      (2L, dupA, "a_wiki"),  // ...but a_wiki outranks it — keeper is 2
      (3L, "completely different words about spark shuffles and exchanges everywhere today", "b_crawl"),
      (4L, dupB, "b_crawl"), // same-source exact pair {4,5}: min id keeps
      (5L, dupB, "b_crawl"),
      (6L, nearC1, "b_crawl"), // near-dup pair {6,7}: priority hands it to 7
      (7L, nearC2, "a_wiki"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def survivors(cfg: CurationPipeline.Config): Set[Long] = {
      val out = Files.createTempDirectory("graft-curation-keeper").toString
      CurationPipeline.run(spark, docs, out, cfg = cfg)
      spark.read.parquet(s"$out/04_corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val base = CurationPipeline.Config(benchMod = 0L, chunk = false)
    assert(survivors(base) === Set(1L, 3L, 4L, 6L), "default rule keeps min doc_id")
    assert(survivors(base.copy(keeperBySource = true)) === Set(2L, 3L, 4L, 7L),
      "priority rule must hand the exact pair {1,2} AND the near-dup pair {6,7} to the a_wiki copies")
    // the rule changes WHICH doc survives, never HOW MANY (one keeper
    // per cluster either way) — checked on the real corpus too
    val real = Registry.t(spark, sfDir, "documents")
    def realCount(cfg: CurationPipeline.Config): Long = {
      val out = Files.createTempDirectory("graft-curation-keeper-real").toString
      CurationPipeline.run(spark, real, out, cfg = cfg).toMap.apply("04_corpus")
    }
    assert(realCount(base) === realCount(base.copy(keeperBySource = true)))
  }

  test("walkthrough config runs end-to-end: every documented stage, non-degenerate, resumable") {
    // the EXACT config from WALKTHROUGH.md (shared via Walkthrough so
    // the doc can't drift from a config that works)
    val out = Files.createTempDirectory("graft-curation-walk").toString
    val docs = Registry.t(spark, sfDir, "documents")
    val counts = CurationPipeline.run(spark, docs, out,
      cfg = Walkthrough.config, selection = Walkthrough.selection)

    // every stage the walkthrough documents, in order
    assert(counts.map(_._1) === Seq(
      "00_report/source", "00_report/zipf", "00_stoplist",
      "01_gated", "02_exact", "03_clean", "04_corpus", "04a_spans",
      "04b_selected", "05_chunks", "06_pack", "07_order",
      "08_bpe/merges", "08_bpe/encoded"))
    val byName = counts.toMap
    // monotone survivor chain, nothing degenerate
    assert(byName("01_gated") > 0 && byName("01_gated") <= docs.count())
    assert(byName("02_exact") <= byName("01_gated"))
    assert(byName("03_clean") <= byName("02_exact"))
    assert(byName("04_corpus") <= byName("03_clean"))
    assert(byName("04b_selected") > 0 && byName("04b_selected") <= byName("04a_spans"))
    assert(byName("06_pack") === byName("04b_selected"))
    assert(byName("07_order") === byName("04b_selected"))
    assert(byName("08_bpe/encoded") === byName("04b_selected"))
    assert(byName("08_bpe/merges") > 0)

    // resume: a second run must reproduce identical counts from the
    // _SUCCESS-marked stage dirs without recomputation side effects
    val counts2 = CurationPipeline.run(spark, docs, out,
      cfg = Walkthrough.config, selection = Walkthrough.selection)
    assert(counts2 === counts)
  }

  // ---- what a fresh walkthrough run executes, seen by a
  // QueryExecutionListener: every stage write runs no tokenization
  // inside a lambda, and the returned rows come from the writes
  // themselves (no `count` job reads a stage directory back)

  /** One fresh walkthrough run: its output dir, returned counts and the
    * (funcName, execution) of every action it ran. */
  private lazy val walkRun: (String, Seq[(String, Long)], Seq[(String, QueryExecution)]) = {
    val out = Files.createTempDirectory("graft-curation-stages").toString
    val seen = ArrayBuffer.empty[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized { seen += funcName -> qe; () }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val docs = Registry.t(spark, sfDir, "documents")
    spark.listenerManager.register(listener)
    val counts =
      try CurationPipeline.run(spark, docs, out,
        cfg = Walkthrough.config, selection = Walkthrough.selection)
      finally {
        GraftShim.waitListenerBus(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    (out, counts, seen.synchronized(seen.toSeq))
  }

  /** The stage-directory writes of the run, by stage name. */
  private def stageWrites: Seq[(String, QueryExecution)] = {
    val (out, _, seen) = walkRun
    seen.flatMap { case (_, qe) =>
      PlanInspect.walk(qe.executedPlan).collectFirst {
        case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
          w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toString
      }.filter(_.contains(out)).map(p => p.substring(p.indexOf(out) + out.length + 1) -> qe)
    }
  }

  test("tripwire: no stage write of a walkthrough run re-evaluates tokenization in a lambda") {
    val writes = stageWrites
    assert(writes.map(_._1).sorted === walkRun._2.map(_._1).sorted,
      "the listener must see exactly one write per returned stage")
    val offenders = writes.flatMap { case (name, qe) =>
      PlanInspect.freeTokenizationLambdas(qe.executedPlan).map(b => s"$name: $b")
    }
    assert(offenders.isEmpty,
      s"free-variable tokenization lambdas in stage writes:\n${offenders.mkString("\n")}")
  }

  test("fresh stage rows come from their writes: equal to a recount, no count job re-reads a stage") {
    val (out, counts, seen) = walkRun
    counts.foreach { case (name, n) =>
      assert(spark.read.parquet(s"$out/$name").count() === n, s"stage $name")
    }
    val rereads = seen.collect { case ("count", qe) => qe }.flatMap { qe =>
      PlanInspect.walk(qe.executedPlan).collect {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      }.flatten.filter(_.contains(out))
    }
    assert(rereads.isEmpty, s"count jobs read stage directories back: $rereads")
  }
}
