package graft.curation

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Stage
import graft.queries.Docs

/** The corpus-curation operators composed into one user-facing,
  * stage-materialized pipeline — the curation twin of
  * [[graft.mimic.Pipeline]]: each stage writes a replayable Parquet
  * artifact under `outDir`, so a failed or re-configured run resumes
  * from the last good stage instead of the raw corpus.
  *
  * Stages (mirroring the oracle-checked d13 flagship, which remains the
  * cross-engine correctness twin of this code path: stages 1-3 run
  * d13's own Docs bodies, and CurationPipelineSpec asserts equivalence
  * at stage 3 and at the final corpus):
  *
  *   0. `00_stoplist` optional heavy-hitter stoplist of the raw corpus
  *                    (d24's shape, `Config.stopTopK`) — a (term, cnt)
  *                    artifact, and the term source for the
  *                    stop-fraction gate
  *   1. `01_gated`    min-token + dup-token-fraction repetition gate,
  *                    optional stoplist-fraction boilerplate gate
  *                    (`Config.maxStopFrac`), optional unigram-LM
  *                    surprisal gate (d25's shape,
  *                    `Config.maxSurprisalMilliBits`), plus any
  *                    caller-supplied gate (lang ID, quality
  *                    classifier, ...)
  *   2. `02_exact`    exact dedup — keep the min doc_id per text hash
  *   3. `03_clean`    benchmark decontamination — drop held-out docs
  *                    (doc_id % benchMod == 0) and any survivor "too
  *                    close" to one, by the configured [[Decontam]]
  *                    engine: exact 5-gram anti-join (d15, default),
  *                    Bloom per-row filter, MinHash near-dup (d29), or
  *                    embedding-semantic (e14)
  *   4. `04_corpus`   MinHash-LSH near-dup dedup (star edges →
  *                    connected components, cluster min survives),
  *                    written via [[graft.sources.CorpusSink]]
  *                    (partitioned, size-bounded, sorted)
  *   4a. `04a_spans`  optional C4-style duplicate-span removal (d30's
  *                    shape, `Config.spanDedup`): keep one corpus-wide
  *                    copy of each 16-token block, rebuild docs from
  *                    their surviving blocks
  *   4b. `04b_selected` optional [[Selection]] strategy over the
  *                    survivors: seeded rate sample (d23),
  *                    cluster-balanced quota sample (e09), or
  *                    quality-weighted importance sample (d27)
  *   5. `05_chunks`   32-token / stride-24 context windows of the
  *                    selected corpus (skipped when `chunk = false`)
  *   6. `06_pack`     context-length packing offsets (d22) of the
  *                    selected corpus (when `packCtx` is set)
  *   7. `07_order`    deterministic train-order shuffle + shard
  *                    assignment (d28) of the selected corpus (when
  *                    `orderShards` is set)
  *   8. `08_bpe`      merge-table artifact + BPE-encoded corpus (d41) of
  *                    the selected corpus (when `bpeMerges` is set)
  *
  * Every stage goes through the one stage body, [[graft.Stage]] (resume
  * check, observed write, read-back, one `(stage, rows)` record), and
  * independent stages are written together on one session as a
  * [[graft.Stage.wave]], in two waves, each stage still in its own
  * directory:
  *
  *  - the front wave: every artifact of the RAW corpus (the two
  *    `00_report` reports, `00_stoplist` with its term collect,
  *    `01_ppl`), and `01_gated` when neither `maxStopFrac` nor
  *    `keepPplBuckets` is set: then stage 1 reads no artifact of the
  *    wave and depends on `docs` alone. With either gate set it runs
  *    right after the wave, over the stoplist and split this run wrote.
  *    The Bloom decontamination engine's filter build (of the benchmark
  *    docs, so of `docs` alone) joins the wave as well;
  *  - the tail wave: `05_chunks`, `06_pack`, `07_order` and `08_bpe`
  *    (merges, their collect, then the encoded corpus, as one chain),
  *    all over the read-back of the selected corpus.
  *
  * Stages 2–4b each read the one before, so they run in turn. Every
  * frame of a wave is built on the caller's thread before its first
  * write; a wave whose writes fail waits for the rest to commit, then
  * throws the first failure in stage order. The returned counts are in
  * stage order whichever write finishes first.
  *
  * Scale notes: every stage is the same shape as its gate query —
  * per-row maps for the gates, one window exchange for exact dedup, a
  * broadcast anti-join for decontamination, star edges + pointer
  * jumping for clustering. The md5 Carter–Wegman signature keeps
  * cross-engine verifiability.
  */
object CurationPipeline {

  /** Post-dedup selection strategy (stage `04b_selected`): which
    * survivors make the final corpus. */
  sealed trait Selection
  /** No selection — every dedup survivor is kept. */
  case object KeepAll extends Selection
  /** Seeded hash-Bernoulli rate sample (d23's shape: md5(seed‖doc_id)
    * under a hex-fraction threshold — shuffle-free, exactly
    * reproducible, mergeable across corpus shards). */
  final case class RateSample(rate: Double, seed: String = "samp:") extends Selection
  /** Cluster-balanced quota sample (e09's shape): `embeddings` must
    * carry (vec_id, embedding, label) with vec_id = doc_id; each
    * nearest-centroid cluster keeps its `quota` most-central surviving
    * docs — coverage of small clusters instead of letting dense regions
    * crowd them out. */
  final case class ClusterBalanced(embeddings: DataFrame, quota: Int = 20) extends Selection
  /** Quality-weighted importance sample (d27's shape — the DoReMi-style
    * mixing primitive): each survivor is kept with probability ramping
    * linearly from 1 at ≤ `fullKeepMilliBits` surprisal down to 0 at
    * ≥ `zeroKeepMilliBits`, decided in exact integer arithmetic against
    * md5(seed‖doc_id) — bit-deterministic and mergeable across shards.
    * Scores come from the SURVIVING corpus's own unigram model
    * ([[graft.queries.Docs.importanceSampleDf]]). */
  final case class ImportanceSample(
      fullKeepMilliBits: Long = 4000L,
      zeroKeepMilliBits: Long = 6000L,
      seed: String = "qs:") extends Selection

  /** Stage-3 decontamination engine — HOW held-out/eval content is kept
    * out of the curated corpus. All four run through the same `03_clean`
    * stage dir (so the resume contract covers every engine), and each is
    * the shared body of an oracle-checked gate query. */
  sealed trait Decontam
  /** d15's shape (default): explode the target word 5-grams and
    * broadcast-anti-join the benchmark gram set — zero false drops,
    * per-doc accounting available. */
  case object ExactGrams extends Decontam
  /** Bloom variant of the exact engine: compile the benchmark set once
    * to a Bloom filter and evaluate a stateless per-row `might_contain`
    * expression ([[graft.queries.Docs.decontamFilterDf]]): no explode,
    * no join, no shuffle on the target side, and the SAME stage runs
    * over a structured stream (StreamingBuckets.decontamStream).
    * One-sided error: real hits are never missed; ~fpp of clean docs
    * are conservatively over-dropped. */
  final case class BloomGrams(fpp: Double = 0.001) extends Decontam
  /** d29's shape: MinHash-LSH near-dup decontamination — drop every
    * survivor whose shingle Jaccard with any benchmark doc reaches 0.5,
    * so a lightly-paraphrased eval document is caught, not just a
    * verbatim 5-gram overlap. One signature pass over the
    * survivors∪benchmark union, candidates restricted to cross pairs
    * ([[graft.queries.Docs.crossNeardupContaminatedIds]]). */
  case object NearDup extends Decontam
  /** e14's shape: SEMANTIC decontamination — drop every survivor whose
    * embedding falls in the same hyperplane bucket as a benchmark
    * vector at rounded cosine ≥ `threshold`
    * ([[graft.queries.Sim.semanticDecontamKeepDf]]: one stateless
    * broadcast anti-join; the target side never shuffles). `embeddings`
    * must carry (vec_id, embedding) with vec_id = doc_id; survivors
    * WITHOUT an embedding row are kept (no evidence to judge them on —
    * pair with a gram engine when coverage is partial). */
  final case class Semantic(
      embeddings: DataFrame,
      threshold: Double = 0.2,
      planes: Int = 8) extends Decontam

  final case class Config(
      minTokens: Int = 10,
      maxDupTokenFrac: Double = 0.6,
      /** 0 disables the decontamination stage. */
      benchMod: Long = 20L,
      /** Stage-3 decontamination engine: [[ExactGrams]] (default),
        * [[BloomGrams]], [[NearDup]], or [[Semantic]]. */
      decontam: Decontam = ExactGrams,
      /** Stage-4 MinHash banding, in the d42 tuning report's label
        * vocabulary ("b8r1" = 8 bands × 1 row, most sensitive /
        * most candidates; "b4r2" = the historical default; "b2r4" =
        * cheapest / most precise). Run the d42 report on a sample,
        * pick the row whose cost-vs-recall suits the corpus, put its
        * label here — the stage keys buckets with the report's exact
        * band-key constructor ([[graft.queries.Docs.bandKeyExpr]]).
        * Unknown labels fail fast at run() entry. */
      lshBanding: String = "b4r2",
      /** Unigram-LM surprisal quality gate (d25's shape, part of stage
        * 1): drop docs whose mean surprisal under the corpus's OWN
        * unigram model exceeds this many milli-bits/token — the
        * CCNet-style "high-perplexity junk" cut, in exact integer
        * arithmetic. The model is trained on the RAW input corpus
        * (pre-gate — more data, and stable under gate-config changes).
        * None disables the gate. */
      maxSurprisalMilliBits: Option[Long] = None,
      /** Gopher-style rule battery (d37's shape, part of stage 1): keep
        * only docs whose five-rule fail bitmask is zero. Runs via the
        * shared [[graft.queries.Docs.withGopherRules]] body over the
        * stage's bound token column — zero additional exchanges, and
        * the gate is pinned by the d37 oracle by construction. Off by
        * default (the built-in minTokens/dupFrac gates overlap two of
        * the rules at different thresholds; enabling both composes). */
      gopherRules: Boolean = false,
      /** CCNet-style perplexity TRIAGE (d44's shape, stage `01_ppl`):
        * bucket the RAW corpus into per-language head/middle/tail
        * surprisal terciles (exact histogram thresholds, shared
        * [[graft.queries.Docs.ccnetBucketsDf]] body pinned by the d44
        * oracle), write the full triage table as a stage artifact, and
        * keep only docs whose bucket is in this set — the CCNet
        * deployment keeps {head, middle} and drops the tail. Unlike
        * [[maxSurprisalMilliBits]] (an absolute cut, which needs a
        * calibrated threshold), the tercile cut is RELATIVE to each
        * language's own distribution, so one config serves every
        * language. Buckets are computed on the raw corpus (pre-gate —
        * stable under gate-config changes, same posture as the
        * surprisal gate's model). None disables the stage. */
      keepPplBuckets: Option[Set[String]] = None,
      /** Model-based quality floor (d38's shape, part of stage 1): keep
        * only docs whose hashed-linear score_milli is at or above this.
        * Shared [[graft.queries.Docs.withHashedScore]] body — a per-row
        * fold, zero exchanges; swap the hash-keyed weights for a learned
        * broadcast table without changing the stage shape. None
        * disables the gate. */
      minHashedScoreMilli: Option[Long] = None,
      chunk: Boolean = true,
      partitionCol: String = "lang",
      maxRecordsPerFile: Long = 100000L,
      /** Context length for the packing-offsets stage (`06_pack`,
        * d22's shape over the SELECTED corpus): per-doc token interval
        * + context-bin span — the bookkeeping a packed-pretraining
        * writer needs. None disables the stage. */
      packCtx: Option[Long] = None,
      /** Top-K heavy-hitter stoplist (d24's exact-count shape, stage
        * `00_stoplist`): the K most frequent terms of the RAW corpus,
        * written as a (term, cnt) artifact. K is bounded and small, so
        * collecting it to the driver for the gate literal is the
        * K×dim-model pattern, not an unbounded collect. None disables
        * the stage. */
      stopTopK: Option[Int] = None,
      /** Boilerplate cut (stage 1, requires `stopTopK`): drop docs
        * whose fraction of stoplist tokens exceeds this — a doc that is
        * mostly top-K glue words carries no signal. The membership test
        * is a scan-parallel lambda over the bound `ws` column against
        * the K-term literal array (O(tokens·K)/doc; for K beyond a few
        * hundred swap the literal for a Bloom filter, the decontam
        * pattern). None disables the gate. */
      maxStopFrac: Option[Double] = None,
      /** Deterministic train-order stage (`07_order`, d28's shape over
        * the SELECTED corpus): every selected doc gets a shard (of this
        * many) and an exact, reproducible position within its shard's
        * training order — the last artifact a pretraining pipeline
        * emits. None disables the stage. */
      orderShards: Option[Int] = None,
      /** BPE-style merge handoff (`08_bpe`, d41's shape over the
        * SELECTED corpus): mine the top-K merge ranking from the
        * selected corpus (`08_bpe/merges` — single-level pair-merge
        * ranking over raw characters, d35's mining; NOT an iterative
        * BPE train, so the file is a pair-frequency artifact, not a
        * drop-in merge table for a standard BPE tokenizer loader) and
        * encode the corpus with it (`08_bpe/encoded` — per-doc
        * word/symbol counts + the encoded-string fingerprint, the d41
        * application semantics). The merge table is
        * bounded (K rows), so collecting it for the encode literals is
        * the K×dim-model pattern; encoding itself is a zero-exchange
        * per-row map (shared [[graft.queries.Docs.bpeEncodeCols]] body,
        * pinned by the d41 oracle). None disables the stage. */
      bpeMerges: Option[Int] = None,
      /** C4-style duplicate-SPAN removal (`04a_spans`, d30's shape over
        * the near-dup survivors): every 16-token block keeps exactly ONE
        * corpus-wide occurrence (min (doc_id, k)) and each doc is
        * rebuilt from its surviving blocks — strips boilerplate
        * paragraphs that doc-level dedup can't touch (the docs
        * themselves are not duplicates). Docs that lose every block are
        * dropped; `n_chars` is recomputed on the rebuilt text. Runs via
        * the shared [[graft.queries.Docs.spanDedupDf]] body, so the
        * stage is pinned by the d30 oracle by construction. */
      spanDedup: Boolean = false,
      /** Dedup keeper rule, applied to BOTH the exact stage (02) and
        * the near-dup stage (04). Default (false): each duplicate
        * group keeps its minimum doc_id (arrival order). True: d43's
        * PROVENANCE-PRIORITY rule — the keeper is the group's
        * (source, doc_id)-minimum, so a higher-ranked source's copy
        * wins even when a lower-ranked source's copy arrived first
        * (wiki mirror beats web crawl); both stages must share the rule
        * or the exact stage would hand a byte-identical cross-source
        * copy to the lower-ranked source before the near-dup stage sees
        * it. Shared [[graft.queries.Docs.sourceKeepers]] body, pinned
        * by the d43 oracle; one extra map-side-combinable min(struct)
        * agg, no window. */
      keeperBySource: Boolean = false,
      /** Corpus-observability artifacts (stage `00_report`): write the
        * d39 per-(lang, source) dup/token dashboard and the d40 Zipf
        * frequency-of-frequency report of the RAW corpus alongside the
        * pipeline stages — the diagnostics read before trusting the
        * run's own gates and mixture weights. Pure reports (no
        * filtering); shared oracle-pinned bodies. Off by default. */
      corpusReport: Boolean = false,
      /** Skip any stage whose output dir already carries a `_SUCCESS`
        * marker and read it back instead — a crashed or re-configured
        * run resumes from the last good stage without recomputing (or
        * re-reading the raw corpus for) the stages before it. Off by
        * default: a fresh run must never trust stale dirs. */
      resume: Boolean = false)

  /** Run the pipeline; returns per-stage row counts (stage name →
    * rows), in stage order. `customGate` runs INSIDE stage 1 after the
    * built-in gates (input: docs with a bound `ws` token column). */
  def run(
      spark: SparkSession,
      docs: DataFrame,
      outDir: String,
      cfg: Config = Config(),
      customGate: DataFrame => DataFrame = identity,
      selection: Selection = KeepAll): Seq[(String, Long)] = {

    // fail-fast on a bad banding label or bucket set BEFORE any stage
    // writes — a typo must not surface only after hours of upstream
    // stages at scale
    Docs.lshBandingOf(cfg.lshBanding)
    cfg.keepPplBuckets.foreach { keepSet =>
      val bad = keepSet -- Set("head", "middle", "tail")
      require(bad.isEmpty && keepSet.nonEmpty,
        s"keepPplBuckets must be a non-empty subset of {head, middle, tail}, got $bad")
    }

    val stage = new Stage(spark, outDir, cfg.resume)

    val base = Docs.spreadWords(docs)
    val isBench = (c: Column) => c % cfg.benchMod === 0
    val bench = base.filter(isBench(col("doc_id")))

    // stage 1: d13's length/repetition gate (+ optional stop-fraction
    // and surprisal gates) + caller's gate. The surprisal cut is a
    // semi-join against the d25 scores of the RAW corpus: docs at or
    // under the threshold survive (zero-token docs have no score and
    // are already dead to minTokens). `stopTerms` and `pplBuckets` are
    // read only when their gates are set.
    def gatedDf(stopTerms: Option[Array[String]], pplBuckets: Option[DataFrame]) = customGate {
      val g0 = Docs.lengthRepetitionGate(base, cfg.minTokens, cfg.maxDupTokenFrac)
      val g = (cfg.maxStopFrac, stopTerms) match {
        case (Some(maxFrac), Some(terms)) =>
          val stopLit = array(terms.map(lit(_)): _*)
          val stopFrac = when(col("n_tokens") === 0, lit(0.0))
            .otherwise(size(filter(col("ws"), w => array_contains(stopLit, w)))
              .cast("double") / col("n_tokens").cast("double"))
          g0.filter(stopFrac <= maxFrac)
        case (Some(_), None) =>
          throw new IllegalArgumentException("maxStopFrac requires stopTopK")
        case _ => g0
      }
      // per-row rule/model gates before the surprisal semi-join
      // (cheapest-first: these add no exchange, the join adds one side)
      val g1 = if (!cfg.gopherRules && cfg.minHashedScoreMilli.isEmpty) g else {
        val b = g.withColumn("_wsc", filter(col("ws"), w => w =!= ""))
        val b2 =
          if (cfg.gopherRules)
            Docs.withGopherRules(b, "_wsc").filter(col("fail_mask") === 0L)
              .drop("n_words", "mwl_milli", "stop_hits", "top_ppm", "ttr_ppm",
                "fail_mask", "keep")
          else b
        val b3 = cfg.minHashedScoreMilli match {
          case Some(minMilli) =>
            Docs.withHashedScore(b2, "_wsc")
              .filter(col("score_milli") >= minMilli)
              .drop("score_sum", "score_milli")
          case None => b2
        }
        b3.drop("_wsc")
      }
      val g2 = cfg.maxSurprisalMilliBits match {
        case Some(maxMb) =>
          val keep = Docs.surprisalDf(docs)
            .filter(col("milli_bits_per_token") <= maxMb)
            .select(col("doc_id"))
          g1.join(keep, Seq("doc_id"), "left_semi")
        case None => g1
      }
      // CCNet tercile triage: survivors semi-join on the configured
      // bucket set, against the 01_ppl artifact read back from disk —
      // the resume contract: a resumed run gates against the exact
      // split it wrote.
      (cfg.keepPplBuckets, pplBuckets) match {
        case (Some(keepSet), Some(buckets)) =>
          val keep = buckets
            .filter(col("ppl_bucket").isin(keepSet.toSeq: _*))
            .select(col("doc_id"))
          g2.join(keep, Seq("doc_id"), "left_semi")
        case _ => g2
      }
    }

    // The front wave: every artifact of the RAW corpus. Artifact stages
    // are staged unconditionally, outside any downstream thunk: a
    // resumed run that finds 01_gated complete never forces its thunk,
    // so an artifact staged inside it would make the returned counts
    // differ between fresh and resumed runs.
    //  - `00_report`: observability reports, nothing downstream reads
    //    them;
    //  - `00_stoplist`: d24's top-K terms, an artifact downstream tooling
    //    reads and the term source of the stop-fraction gate, collected
    //    in its own branch from the read-back, so a resumed run never
    //    recomputes it;
    //  - `01_ppl`: the CCNet tercile split a downstream sampler reads. Its
    //    write releases the d44 scored-frame cache entry (a long-lived
    //    pipeline session must not pin one corpus-sized entry per run,
    //    ADVICE r16; nothing re-runs the persisted subtree, the stage is
    //    read back from disk). Built inside the by-name thunk, so a
    //    resumed run neither constructs d44's plan nor registers its
    //    persist.
    val reports =
      if (!cfg.corpusReport) Nil
      else Seq(stage("00_report/source", Docs.sourceReportDf(docs)),
        stage("00_report/zipf", Docs.zipfReportDf(docs)))
    val stoplist = cfg.stopTopK.map(k => stage("00_stoplist", Docs.topTermsDf(docs, k))
      .map(_.select(col("term")).collect().map(_.getString(0)).sorted))
    val ppl = cfg.keepPplBuckets.map { _ =>
      var release = () => ()
      stage("01_ppl", {
        val (df, r) = Docs.ccnetBucketsDfWithRelease(docs)
        release = r
        df
      }, write = (d, p) => try Stage.parquet(d, p) finally release())
    }
    // 01_gated joins the wave when it reads no artifact of it: with
    // neither the stop-fraction nor the ppl gate set it depends on
    // `docs` alone, like the artifacts. Otherwise it runs after the wave
    // and gates on the stoplist and split this run wrote.
    val independent = cfg.maxStopFrac.isEmpty && cfg.keepPplBuckets.isEmpty
    val early = Option.when(independent)(stage("01_gated", gatedDf(None, None)))
    // 03_clean's Bloom engine compiles the benchmark docs' 5-grams, which
    // depend on `docs` alone, so its build job joins the wave too (not a
    // stage: no directory, no record), unless 03_clean is complete
    val bloom = cfg.decontam match {
      case BloomGrams(fpp) if cfg.benchMod > 0 && !stage.complete("03_clean") =>
        val grams = Docs.benchGramSet(bench)
        Some(Stage.branch("03_clean/bloom")(Docs.benchBloomBytes(grams, fpp = fpp)))
      case _ => None
    }
    stage.wave(reports ++ stoplist ++ ppl ++ early ++ bloom)
    val gated = early match {
      case Some(g) => g.value
      case None => stage.one(stage("01_gated", gatedDf(stoplist.map(_.value), ppl.map(_.value))))
    }

    // stage 2: d13's exact dedup — the hash exchange ships fingerprints,
    // never document text. keeperBySource applies HERE too: a
    // byte-identical cross-source copy must resolve by the same priority
    // rule as a near-dup one, or the exact stage would hand the doc to
    // the lower-ranked source before the near-dup stage ever sees it
    val exact = stage.one(stage("02_exact", Docs.exactDedup(gated, cfg.keeperBySource)))

    // stage 3: benchmark decontamination — one stage dir, four engines
    // (Config.decontam); every engine first drops the benchmark docs
    // themselves, then its own notion of "too close to a benchmark doc"
    val clean = stage.one(stage("03_clean",
      if (cfg.benchMod <= 0) exact
      else {
        val targets = exact.filter(!isBench(col("doc_id")))
        cfg.decontam match {
          case BloomGrams(_) => Docs.decontamFilterDf(targets, bloom.get.value)
          case ExactGrams => Docs.gramDecontam(targets, bench)
          case NearDup =>
            // one signature pass over survivors ∪ benchmark (the d29
            // union-corpus shape — the benchmark side joins the pass
            // even where gates dropped it, exactly like the gate's
            // full-table reference side)
            val union = targets.select(col("doc_id"), col("text"))
              .unionByName(bench.select(col("doc_id"), col("text")))
            targets.join(
              Docs.crossNeardupContaminatedIds(union, isBench),
              Seq("doc_id"), "left_anti")
          case Semantic(emb, threshold, planes) =>
            val refEmb = emb.filter(isBench(col("vec_id")))
              .select(col("embedding"))
            val tgtEmb = emb.filter(!isBench(col("vec_id")))
              .join(targets.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi")
            val keptIds = graft.queries.Sim
              .semanticDecontamKeepDf(tgtEmb, refEmb, threshold, planes)
              .select(col("vec_id").as("doc_id"))
            // survivors with no embedding row are kept: anti-join on the
            // DROPPED ids (covered minus kept), not semi-join on kept
            val droppedIds = emb
              .join(targets.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi")
              .select(col("vec_id").as("doc_id"))
              .join(keptIds, Seq("doc_id"), "left_anti")
            targets.join(droppedIds, Seq("doc_id"), "left_anti")
        }
      }))

    // stage 4: near-dup dedup, survivors written as the curated corpus
    // through CorpusSink. Read back with the inferred schema: the
    // partition column moves to the end.
    val corpus0 = stage.one(stage("04_corpus", {
      val comps = Docs.nearDupClusters(clean.select(col("doc_id"),
        graft.functions.MinHashExprs.minHashSig(Docs.shingles(col("ws"))).as("mh")),
        cfg.lshBanding)
      if (cfg.keeperBySource) {
        // d43's provenance-priority rule: the cluster's
        // (source, doc_id)-minimum wins, not the minimum doc_id
        val keeperIds = Docs.sourceKeepers(Docs.clusteredBySource(
            clean.select(col("doc_id"), col("source")), comps))
          .select(col("k.doc_id").as("doc_id"))
        clean.join(keeperIds, Seq("doc_id"), "left_semi")
          .drop("ws", "n_tokens")
      } else Docs.clusterMinKeepers(clean, comps).drop("ws", "n_tokens")
    }, write = (d, p) => graft.sources.CorpusSink.write(d, p,
      partitionCol = cfg.partitionCol, maxRecordsPerFile = cfg.maxRecordsPerFile),
      read = (_, p) => spark.read.parquet(p)))

    // stage 4a (optional): C4-style duplicate-span removal over the
    // near-dup survivors — rebuild each doc from the blocks that are
    // the corpus-wide canonical copy of their content
    val corpus =
      if (!cfg.spanDedup) corpus0
      else stage.one(stage("04a_spans", Docs.spanDedupDf(corpus0)))

    // stage 4b: selection strategy over the dedup survivors
    val selected = selection match {
      case KeepAll => corpus
      case RateSample(rate, seed) =>
        stage.one(stage("04b_selected",
          Docs.rateSampleDf(corpus, Docs.hexThreshold(rate), seed)))
      case ClusterBalanced(emb, quota) =>
        stage.one(stage("04b_selected", {
          // sample among SURVIVORS only (vec_id = doc_id contract), and
          // keep the quota per cluster of the surviving population
          val surv = emb.join(corpus.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi")
          val picked = graft.queries.Sim.clusterSampleDf(surv, quota)
            .select(col("vec_id").as("doc_id"))
          corpus.join(picked, Seq("doc_id"), "left_semi")
        }))
      case ImportanceSample(lo, hi, seed) =>
        stage.one(stage("04b_selected", {
          // per-doc keep rate from the surviving corpus's own unigram
          // surprisal (d27's shape); the coin flip is a pure filter over
          // the score plan — zero exchanges beyond the scorer's
          val keep = Docs.importanceSampleDf(corpus, lo, hi, seed)
            .select(col("doc_id"))
          corpus.join(keep, Seq("doc_id"), "left_semi")
        }))
    }

    // The tail wave: stages 5-8 each read only the selected corpus.
    //  5. context-window chunks;
    //  6. context-length packing offsets;
    //  7. deterministic train order + shard assignment (d28's two-level
    //     shape — no shard-serial sort);
    //  8. BPE tokenizer handoff — merge-table artifact + encoded corpus
    //     (d41's shape), one chain: the merge ranking is read BACK from
    //     its stage dir (resume-stable) and re-ordered before the
    //     bounded collect, so the encode literals always come from the
    //     artifact a resumed run would serve.
    stage.wave(Seq(
      Option.when(cfg.chunk)(stage("05_chunks", Docs.chunkedDf(selected))),
      cfg.packCtx.map(ctx => stage("06_pack", Docs.sequencePack(selected, ctx))),
      cfg.orderShards.map(n => stage("07_order", Docs.trainOrderDf(selected, n))),
      cfg.bpeMerges.map { k =>
        stage("08_bpe/merges", Docs.bpeMergesEligibleDf(selected, k)).flatMap { mergesBack =>
          val merges = mergesBack.orderBy(col("cnt").desc, col("pair").asc)
            .collect().map(_.getString(0)).toSeq
          stage("08_bpe/encoded", Docs.bpeEncodeFrom(selected
            .filter(col("text").isNotNull)
            .select(col("doc_id"), Docs.bpeEligWords.as("elig")), merges))
        }
      }).flatten)
    stage.records
  }
}
