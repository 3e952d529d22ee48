package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming ingest mode for the engine's temporal core —
  * the reference is batch-only (SURVEY §2.6), so this is the north-star
  * extension: the SAME tumbling-bucket aggregation (T1,
  * data_generation_icu.py:537-604) expressed over an unbounded stream.
  *
  * The transformation is input-agnostic: pass a batch DataFrame and it
  * plans as a normal aggregate; pass a `readStream` source and it plans
  * as a stateful streaming aggregate — one definition, two runtimes.
  * With a watermark, state for closed windows is dropped, so the
  * operator runs indefinitely at cluster scale.
  */
object StreamingBuckets {

  /** Stateless curation gate shared batch≡stream: keep docs with at
    * least `minTokens` whitespace tokens. No state, no watermark — under
    * a checkpointed file-source query this is the INCREMENTAL corpus
    * ingest path: each trigger curates only newly-arrived files and the
    * checkpoint guarantees exactly-once processing across restarts
    * (FileStreamSpec checkpoint-resume test). */
  def qualityGate(docs: DataFrame, minTokens: Int = 5): DataFrame =
    docs.filter(graft.functions.ColFns.tokenCount(col("text")) >= minTokens)

  /** Streaming twin of the d23 seeded rate sampler: a pure stateless
    * per-row filter (md5(seed‖doc_id) under a hex-fraction threshold),
    * so it runs identically over a stream or a batch frame — no state,
    * no watermark, and a doc's keep/drop verdict never depends on which
    * trigger (or which shard, or which engine) saw it. The
    * "reproducibly sample 10% of an unbounded ingest" primitive:
    * re-running the stream, or the batch backfill over the same docs,
    * selects the SAME set. Threshold via
    * [[graft.queries.Docs.hexThreshold]]. */
  def rateSampleStream(docs: DataFrame, thresholdHex: String,
      seed: String = "samp:"): DataFrame =
    graft.queries.Docs.rateSampleDf(docs, thresholdHex, seed)

  /** Streaming twin of d15 decontamination, as a filter: drop any doc
    * one of whose word 5-grams appears in the benchmark set, compiled
    * once to a Bloom filter ([[graft.queries.Docs.benchBloomBytes]])
    * and shipped as a literal. A pure stateless per-row expression —
    * no state, no watermark, no join — so a doc's verdict never depends
    * on which trigger saw it, and the batch backfill over the same docs
    * drops the SAME set. One-sided error: real benchmark hits are never
    * missed; ~fpp of clean docs are conservatively over-dropped (exact
    * accounting stays on the batch d15 path). */
  def decontamStream(docs: DataFrame, bloomBytes: Array[Byte]): DataFrame =
    graft.queries.Docs.decontamFilterDf(docs, bloomBytes)

  /** Streaming twin of d17 PII redaction, as a transform: emails/phones
    * replaced with `<EMAIL>`/`<PHONE>` tags + per-doc match counts, via
    * ONE compiled-regex pass per pattern (the d17 gate's codegen'd
    * RedactStats expression, same patterns — batch and stream redact
    * byte-identically). A pure stateless per-row map: no state, no
    * watermark, no shuffle, so it composes with the other ingest stages
    * at any point in the stream. Completes the stateless curation twin
    * set: quality gate, rate sample, decontam, redact. */
  def redactStream(docs: DataFrame): DataFrame =
    graft.queries.Docs.redactDf(docs)

  /** Streaming twin of the d37 Gopher rule battery, as a filter: keep
    * only docs whose five-rule fail bitmask is zero. Every rule —
    * including the top-token repetition count, a run-length fold over
    * the doc's sorted token array — is a per-row expression over bound
    * columns ([[graft.queries.Docs.withGopherRules]], the d37 gate's
    * exact body), so the twin is stateless: no watermark, no shuffle,
    * and a doc's verdict never depends on which trigger saw it. */
  def gopherGateStream(docs: DataFrame): DataFrame = {
    val scored = graft.queries.Docs.withGopherRules(
      docs.withColumn("_ws0", graft.queries.Docs.words(col("text")))
        .withColumn("_wsc", filter(col("_ws0"), w => w =!= "")),
      "_wsc")
    scored.filter(col("text").isNotNull && col("fail_mask") === 0L)
      .drop("_ws0", "_wsc", "n_words", "mwl_milli", "stop_hits",
        "top_ppm", "ttr_ppm", "fail_mask", "keep")
  }

  /** Streaming twin of the d38 hashed linear scorer, as a filter: keep
    * docs whose hashed-model score_milli clears `minMilli`. One
    * `aggregate` fold per row over the bound token array (the d38
    * gate's exact body via [[graft.queries.Docs.withHashedScore]]) —
    * stateless, shuffle-free, and the shape a LEARNED broadcast weight
    * table would keep unchanged: model-based quality gating on an
    * unbounded ingest. */
  def hashedScoreStream(docs: DataFrame, minMilli: Long): DataFrame = {
    val scored = graft.queries.Docs.withHashedScore(
      docs.withColumn("_ws0", graft.queries.Docs.words(col("text")))
        .withColumn("_wsc", filter(col("_ws0"), w => w =!= "")),
      "_wsc")
    scored.filter(col("text").isNotNull && col("score_milli") >= minMilli)
      .drop("_ws0", "_wsc", "score_sum", "score_milli")
  }

  /** Streaming twin of d29 cross-corpus near-dup decontamination, as a
    * filter: drop any streamed doc whose FULL 8-family MinHash
    * signature appears in the reference snapshot's signature set,
    * compiled once to a Bloom filter
    * ([[graft.queries.Docs.refSigBloomBytes]]) and shipped as a
    * literal. Signature equality is the band-free special case of LSH
    * (the nearDedupStream note): it catches signature-identical
    * near-dups of eval docs on the hot ingest path with a pure
    * stateless per-row expression — no state, no watermark, no join —
    * while banded candidates + exact Jaccard verify (the paraphrase
    * tail) stay on the batch d29 compactor. One-sided error: a
    * signature-identical match is never missed; ~fpp of clean docs are
    * conservatively over-dropped. Shingle-less docs always pass. */
  def crossNeardupStream(docs: DataFrame, refSigBloomBytes: Array[Byte]): DataFrame =
    graft.queries.Docs.crossNeardupFilterDf(docs, refSigBloomBytes)

  /** Streaming twin of d30 duplicate-span removal, against a SNAPSHOT
    * keeper set: every 16-token block of a streamed doc that already
    * exists in the batch snapshot (compiled once to a Bloom filter by
    * [[graft.queries.Docs.spanKeeperBloomBytes]] and shipped as a
    * literal) is cut, and the doc is rebuilt from its surviving blocks
    * — a pure stateless per-row expression, no state, no watermark, no
    * join, so the operator ingests forever at any scale. One-sided
    * error: a block REALLY in the snapshot is always cut; ~fpp of
    * fresh blocks are conservatively over-cut. Within-stream span
    * dedup (first-occurrence keeper election among NEW spans) stays on
    * the batch d30 compactor, which backfills exactly — the same
    * split of labor as nearDedupStream vs the banded batch path. */
  def spanDedupStream(docs: DataFrame, keeperBloomBytes: Array[Byte]): DataFrame =
    graft.queries.Docs.spanDedupFilterDf(docs, keeperBloomBytes)

  /** Streaming twin of the d41 BPE merge application: encode an
    * unbounded doc ingest against a FIXED merge snapshot (the
    * batch-mined top-k ranking, collected once — tokenizer TRAINING is
    * a batch job, this is the serving path every production tokenizer
    * deploys: the merge table ships to workers as a literal model and
    * never changes mid-stream; retraining is a new snapshot + restart,
    * exactly the e15/e19 index-invalidation contract). Stateless
    * per-row map (shared [[graft.queries.Docs.bpeEncodeFrom]] body —
    * the fused one-pass encode expression): no watermark, no state
    * store, batch backfill ≡ stream by construction. */
  def bpeEncodeStream(docs: DataFrame, merges: Seq[String]): DataFrame =
    graft.queries.Docs.bpeEncodeFrom(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), graft.queries.Docs.bpeEligWords.as("elig")),
      merges)

  /** Streaming twin of d44 CCNet perplexity triage: label each streamed
    * doc head/middle/tail against a FROZEN snapshot — the unigram LM
    * ([[graft.queries.Docs.ccnetModelSnapshot]]) and the per-language
    * tercile thresholds ([[graft.queries.Docs.ccnetThresholdSnapshot]])
    * both compile to literals, the d15-Bloom "train batch, serve
    * stream" shape. Per row: ONE compiled byte pass (the
    * SnapshotSurprisal expression) + a literal threshold cascade —
    * stateless, shuffle-free, join-free; scores are bit-identical to
    * batch d44 for every token the snapshot saw. Re-cutting terciles
    * over the stream's own distribution is a batch compactor job. */
  def ccnetBucketStream(docs: DataFrame, terms: Array[String],
      counts: Array[Long], nTotal: Long,
      thresholds: Array[(String, Long, Long)]): DataFrame =
    graft.queries.Docs.ccnetBucketFilterDf(docs, terms, counts, nTotal, thresholds)

  /** Compile the d44 model snapshot for [[ccnetBucketStream]] with a
    * MANDATORY term cap: the streaming serving path must never default
    * to an unbounded driver collect — the count≥2 vocabulary of a
    * 100 TB corpus can exceed driver memory, and nothing else on this
    * path would force choosing the cap (VERDICT r16 #5). The cap is a
    * driver-bounded TakeOrdered; per-occurrence score drift under
    * pruning is exact and spec-pinned (see
    * [[graft.queries.Docs.ccnetModelSnapshot]]). The uncapped Docs
    * entry point remains for BATCH gate-parity tests, which never
    * serve a stream. */
  def ccnetModelSnapshot(docs: DataFrame, maxTerms: Int)
      : (Array[String], Array[Long], Long) = {
    require(maxTerms > 0, s"ccnetModelSnapshot: maxTerms must be positive, got $maxTerms")
    graft.queries.Docs.ccnetModelSnapshot(docs, Some(maxTerms))
  }

  /** Streaming twin of d43 cross-source keeper selection, as a filter:
    * a streamed doc signature-identical to a snapshot near-dup cluster
    * is dropped iff the snapshot's elected keeper holds better-or-equal
    * source priority (per-rank nested Blooms,
    * [[graft.queries.Docs.keeperSigBloomsByRank]]); a doc that would
    * OUTRANK the snapshot keeper passes — re-electing the snapshot is
    * the batch compactor's job, exactly as nearDedupStream defers
    * banding. Pure stateless per-row expression: no state, no
    * watermark, no join. */
  def keeperPriorityStream(docs: DataFrame,
      ranked: Seq[(String, Array[Byte])]): DataFrame =
    graft.queries.Docs.keeperPriorityFilterDf(docs, ranked)

  /** Streaming twin of d45 containment dedup, as a filter: drop any
    * streamed doc whose distinct shingles are ≥ τ contained in the
    * snapshot's (Bloom-compiled) shingle inventory — containment
    * against the corpus UNION, a disclosed strengthening of the batch
    * per-pair check (see [[graft.queries.Docs.containmentFilterDf]]):
    * nothing the batch d45 would evict survives, quote-mosaics are
    * conservatively over-dropped. Stateless per-row shingle walk — no
    * state, no watermark, no join; exact per-pair containment stays on
    * the batch d45 compactor. */
  def containmentDedupStream(docs: DataFrame, snapshotBloom: Array[Byte],
      tauMilli: Long = 800L): DataFrame =
    graft.queries.Docs.containmentFilterDf(docs, snapshotBloom, tauMilli)

  /** Streaming twin of e14 semantic decontamination: drop any streamed
    * vector whose rounded cosine with a same-bucket reference vector
    * reaches `threshold`. EXACT (no Bloom, no one-sided error): the
    * reference is a STATIC eval-suite table on the broadcast side of a
    * stream-static left-anti join — stateless, no watermark, so batch
    * backfill and stream keep the identical set by construction (shared
    * [[graft.queries.Sim.semanticDecontamKeepDf]] body). */
  def semanticDecontamStream(vecs: DataFrame, refVectors: DataFrame,
      threshold: Double = 0.2, planes: Int = 8): DataFrame =
    graft.queries.Sim.semanticDecontamKeepDf(vecs, refVectors, threshold, planes)

  /** Tumbling bucket counts/sums per (event_type, window). For streaming
    * input, `withWatermark` bounds state; for batch input it's a no-op
    * column-metadata marker. */
  def bucketAgg(events: DataFrame, bucketLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), bucketLen).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("event_type"), col("w.start").as("bucket_start"),
        col("n_events"), col("sum_value"))

  /** Streaming dedup by key within the watermark horizon — the streaming
    * twin of exact dedup (d09): dropDuplicates keeps first-seen state
    * per key and expires it past the watermark. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Streaming NEAR-dup filter — the streaming twin of the d12/d13
    * MinHash dedup: a doc whose full 8-family signature was already
    * seen inside the watermark horizon is dropped. The signature is a
    * stateless per-row map (same codegen'd MinHashSig as the batch
    * path), so the only state is dropDuplicates' seen-signature set,
    * which the watermark bounds — the operator runs forever at 100 TB
    * ingest. Docs too short to shingle (<3 tokens, or null text) get a
    * per-doc unique key so they pass through un-deduped rather than
    * all colliding on the empty signature.
    *
    * Signature-equality is the band-free special case of LSH (docs
    * agreeing on ALL 8 families); banded candidate generation needs a
    * post-shuffle join, which streaming defers to the batch compactor.
    */
  def nearDedupStream(docs: DataFrame, watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("ws", graft.queries.Docs.words(col("text")))
      .withColumn("sh", graft.queries.Docs.shingles(col("ws")))
      .withColumn("mh", graft.functions.MinHashExprs.minHashSig(col("sh")))
      .withColumn("sig", coalesce(graft.queries.Docs.sigStr(col("sh"), col("mh")),
        concat(lit("uniq:"), col("doc_id").cast("string"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("sig"))
      .drop("ws", "sh", "mh", "sig")

  // ---------- stateful sessionization (flatMapGroupsWithState) ----------

  final case class SessEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessState(startUs: Long, lastUs: Long, n: Int)
  final case class Session(user_id: Long, n_events: Int, sess_minutes: Long)

  /** Streaming twin of q39_sessionize: per-user 30-min-gap sessions with
    * custom state. Gaps seen inside a batch close sessions immediately;
    * the open tail session closes via EVENT-TIME TIMEOUT once the
    * watermark passes last_event + gap — so state is bounded and the
    * operator runs forever. Batch q39 and this agree on closed sessions.
    */
  def sessionize(events: org.apache.spark.sql.Dataset[SessEvent],
      gapMinutes: Int = 30, watermark: String = "1 hour")
      : org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val sessStateEnc: Encoder[SessState] = Encoders.product[SessState]
    implicit val sessionEnc: Encoder[Session] = Encoders.product[Session]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    val gapUs = gapMinutes * 60L * 1000000L

    def emit(uid: Long, st: SessState): Session =
      Session(uid, st.n, (st.lastUs - st.startUs) / 60000000L)

    def fn(uid: Long, evs: Iterator[SessEvent],
        state: GroupState[SessState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(emit(uid, _)).iterator
        state.remove()
        out
      } else {
        val sorted = evs.map(e => e.ts.getTime * 1000L).toArray.sorted
        var closed = List.empty[Session]
        var cur = state.getOption
        sorted.foreach { us =>
          cur match {
            case Some(st) if us - st.lastUs <= gapUs =>
              // within-watermark LATE events may precede lastUs (or even
              // startUs): min/max keep the session envelope monotone —
              // a regressing lastUs would shrink the duration AND set an
              // event-time timeout behind the watermark (query abort)
              cur = Some(SessState(math.min(st.startUs, us),
                math.max(st.lastUs, us), st.n + 1))
            case Some(st) =>
              closed ::= emit(uid, st)
              cur = Some(SessState(us, us, 1))
            case None =>
              cur = Some(SessState(us, us, 1))
          }
        }
        cur.foreach { st =>
          state.update(st)
          state.setTimeoutTimestamp(st.lastUs / 1000L + gapMinutes * 60L * 1000L)
        }
        closed.reverseIterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
