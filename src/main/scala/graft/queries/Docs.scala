package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.types.BinaryType
import graft.functions.ColFns._
import graft.functions.GramHashExprs.gramHashes
import graft.functions.MinHashExprs.minHashSig
import graft.queries.Registry.t

/** Text-analysis + deduplication battery over the `documents` table —
  * the training-data-pipeline operators (BASELINE.json north-star):
  * token stats, quality scoring, language-ID scoring, fingerprinting,
  * n-gram Jaccard, MinHash+LSH, SimHash, exact dedup.
  *
  * Everything is built from codegen'd built-ins (split/transform/
  * aggregate/md5) — no UDFs — so the same computation is expressible in
  * the DuckDB oracle and scales on a cluster.
  */
object Docs {

  /** Whitespace tokens (non-distinct, document order). */
  private[graft] def words(c: Column) = split(normWs(c), " ")

  /** Word 3-gram shingles, 1-based window over the token array.
    * Guarded for <3 tokens: `sequence(1, size-2)` would otherwise emit a
    * DESCENDING range ([1,0] …) and element_at(ws, 0) throws
    * INVALID_INDEX_OF_ZERO; the DuckDB oracle's `range(1, len-1)` yields
    * an empty list for the same input, so short docs → empty shingle set.
    */
  private[graft] def shingles(ws: Column): Column =
    when(size(ws) >= 3, transform(sequence(lit(1), size(ws) - 2), i => ngramAt(ws, i, 3)))
      .otherwise(array().cast("array<string>"))

  /** The word `n`-gram starting at 1-based index `i` of the token array
    * `ws`, space-joined — the one builder behind the 3-gram shingles and
    * every word 5-gram ([[gram5]], d15, d32, the Bloom set of
    * [[benchBloomBytes]]). [[graft.functions.GramHashes]] computes its
    * xxhash64 directly from the text. */
  private[graft] def ngramAt(ws: Column, i: Column, n: Int): Column =
    concat_ws(" ", element_at(ws, i) +: (1 until n).map(k => element_at(ws, i + k)): _*)

  /** The corpus spread every doc-level text operator starts from: one
    * `repartition(doc_id)` and the bound `ws` token column. */
  private[graft] def spreadWords(docs: DataFrame): DataFrame =
    docs.repartition(col("doc_id")).withColumn("ws", words(col("text")))

  /** Might-contain probe of the serialized Bloom filter `bytes` (see
    * [[benchBloomBytes]]) for the long `v` — the one probe every
    * stateless Bloom filter body runs. */
  private[graft] def bloomProbe(bytes: Array[Byte], v: Column): Column =
    GraftShim.column(BloomFilterMightContain(Literal(bytes, BinaryType), GraftShim.expression(v)))

  /** Seeded hash-Bernoulli rate sample (d23's shape): keep a doc iff
    * md5(seed‖doc_id) is below `thresholdHex` — lowercase-hex string
    * order IS 128-bit hash order, so the filter is scan-parallel,
    * exactly reproducible under any partitioning, and mergeable across
    * corpus shards. */
  private[graft] def rateSampleDf(docs: org.apache.spark.sql.DataFrame,
      thresholdHex: String, seed: String = "samp:"): org.apache.spark.sql.DataFrame =
    docs.filter(
      md5(concat(lit(seed), col("doc_id").cast("string")).cast("binary")) < lit(thresholdHex))

  /** 32-hex-digit fraction threshold for [[rateSampleDf]]:
    * floor(rate · 2¹²⁸) of the exact binary value of `rate`. (The d23
    * gate keeps its hand-pinned repeating-digit literal for 0.1 — the
    * double 0.1 is ~2⁻⁵⁵ above 1/10, a rate error without sampling
    * consequence but a different last hex digit.) */
  private[graft] def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val t = (BigDecimal(rate) * BigDecimal(BigInt(1) << 128)).toBigInt
      .min((BigInt(1) << 128) - 1)
    ("0" * 32 + t.toString(16)).takeRight(32)
  }

  /** The d17 PII patterns (shared with the streaming redaction twin so
    * batch and stream redact identically — see the optimization notes at
    * the d17 gate for why the email pattern is possessive + run-start
    * anchored). */
  private[graft] val piiEmailRe = "(?<![a-z0-9._%+-])[a-z0-9._%+-]++@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val piiPhoneRe = "\\+?[0-9][0-9-]{6,}+"

  /** DataFrame-in redaction body shared batch≡stream: replace emails and
    * phone numbers in `text` with `<EMAIL>`/`<PHONE>` tags and attach
    * per-doc match counts — ONE compiled-regex pass per pattern
    * ([[graft.functions.RedactExprs]]). Pure per-row map: no state, no
    * shuffle, safe on an unbounded stream. */
  private[graft] def redactDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val r = graft.functions.RedactExprs.redactStats(col("text"), piiEmailRe, piiPhoneRe)
    docs.withColumn("_r", r)
      .withColumn("text", col("_r").getField("redacted"))
      .withColumn("n_emails", col("_r").getField("n_emails"))
      .withColumn("n_phones", col("_r").getField("n_phones"))
      .drop("_r")
  }

  /** DataFrame-in body of d25 (shared with CurationPipeline's surprisal
    * gate, so the pipeline stage is oracle-pinned by construction):
    * per-doc unigram LM surprisal under the corpus's own model, in
    * EXACT integer arithmetic — per-token surprisal = bits(N) − bits(c)
    * with bits(x) = length(bin(x)) = ⌊log2 x⌋ + 1, mean emitted as
    * milli-bits/token via the half-away rational divide. Shuffle shape:
    * one doc_id spread (reused by the freq branch), one term shuffle,
    * freq broadcast back (AQE self-demotes if a real vocab outgrows an
    * executor). Zero-token docs drop from the output. */
  private[graft] def surprisalDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = docs.repartition(col("doc_id"))
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    // n_total = Σ per-term counts — read off the VOCAB-sized freq frame
    // (its term exchange is reused) instead of a third corpus-sized
    // explode pass; sum-of-counts ≡ count-of-tokens exactly.
    val n = freq.agg(sum(col("c")).as("n_total"))
    def bits(c: Column) = length(bin(c)).cast("long")
    toks.join(broadcast(freq), Seq("term"))
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(bits(col("n_total")) - bits(col("c"))).as("surprisal_bits"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_bits"),
        Sim.halfAwayDiv(col("surprisal_bits") * 1000, col("n_tokens"))
          .as("milli_bits_per_token"))
  }

  /** DataFrame-in body of d44 (shared with CurationPipeline's
    * perplexity-triage stage): CCNet head/middle/tail terciles per
    * language by [[surprisalDf]] score. Thresholds are exact value-based
    * terciles from a cumulative count over the (lang, score) HISTOGRAM
    * (t_k = min score with 3·cum ≥ k·n, = percentile_disc(k/3)), so ties
    * land in ONE bucket deterministically and the corpus-sized frame
    * never enters a window — the histogram windows see ≤ distinct score
    * values per lang, the two thresholds per lang broadcast back, and
    * the labeling pass is map-side. */
  private[graft] def ccnetBucketsDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ccnetBucketsDfWithRelease(docs)._1

  /** d44 body plus its cache-release handle. The scored frame feeds
    * BOTH the threshold histogram and the probe side; left
    * unmaterialized, each consumer re-runs the full surprisal
    * evaluation (2 corpus tokenize passes each — the ReusedExchange only
    * covers the raw doc spread, the explode/agg work re-runs per
    * consumer). persist() pins the NARROW derived frame — (doc_id, lang,
    * mbpt), ~24 B/doc, the guide-§8 "decision pass over small rows"
    * class, spilling to disk at scale — so surprisal is evaluated ONCE
    * per execution, which is exactly what the DuckDB twin's MATERIALIZED
    * `scored` CTE does. Lazy: plan construction stays free; the first
    * action (the threshold broadcast job) fills the cache.
    *
    * Callers that OUTLIVE their terminal action (CurationPipeline — a
    * bench/verify process exits and Bench clears the cache between
    * queries) must call release() after the action, or the
    * corpus-row-count cache entry stays pinned MEMORY_AND_DISK for the
    * session (ADVICE r16). */
  private[graft] def ccnetBucketsDfWithRelease(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val sc = ccnetScoredDf(docs).persist()
    val out = sc.join(broadcast(ccnetThresholdsDf(sc)), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("milli_bits_per_token"),
        when(col("milli_bits_per_token") <= col("t1"), lit("head"))
          .when(col("milli_bits_per_token") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
    (out, () => { sc.unpersist(); () })
  }

  /** (doc_id, lang, milli_bits_per_token) under the corpus's own d25
    * model — the input of both the d44 tercile cut and the snapshot
    * compile for its streaming twin. */
  private def ccnetScoredDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    surprisalDf(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("milli_bits_per_token"))

  /** Per-language tercile thresholds (lang, t1, t2) from the histogram
    * cumulative count (see [[ccnetBucketsDf]]'s scaladoc for why the
    * corpus never enters a window). */
  private def ccnetThresholdsDf(sc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hist = sc.groupBy(col("lang"), col("milli_bits_per_token"))
      .agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("milli_bits_per_token"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    def cut(k: Int, name: String) = cum
      .filter(col("cum") * 3 >= col("n") * k)
      .groupBy(col("lang"))
      .agg(min(col("milli_bits_per_token")).as(name))
    cut(1, "t1").join(cut(2, "t2"), Seq("lang"))
  }

  /** DataFrame-in body of d24's exact top-K heavy hitters (shared with
    * CurationPipeline's stoplist stage): one explode → one term-keyed
    * partial-agg shuffle → global top-K. The battery twin additionally
    * asserts the count-min-sketch one-sided-error envelope over these
    * rows; a deployment that only needs the stoplist can run the
    * mergeable sketch alone (one scan-parallel pass, no term shuffle). */
  private[graft] def topTermsDf(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    docs.select(explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(k)

  /** DataFrame-in body of d27 (shared with CurationPipeline's
    * ImportanceSample selection): quality-weighted importance sampling —
    * keep each doc with probability ramping linearly from 1 at
    * `fullKeepMb` milli-bits/token down to 0 at `zeroKeepMb`, decided by
    * comparing the first 60 bits of md5(seed‖doc_id) against
    * rate(doc)·2⁶⁰ in EXACT integer arithmetic (clamp(hi − mb, 0, range)
    * · ⌊2⁶⁰/range⌋), so the verdict is bit-deterministic, shuffle-free
    * given the scores, and mergeable across shards. Returns the filtered
    * [[surprisalDf]] rows (scores are computed over `docs`' OWN unigram
    * model). */
  private[graft] def importanceSampleDf(docs: org.apache.spark.sql.DataFrame,
      fullKeepMb: Long = 4000L, zeroKeepMb: Long = 6000L,
      seed: String = "qs:"): org.apache.spark.sql.DataFrame = {
    require(zeroKeepMb > fullKeepMb, "zeroKeepMb must exceed fullKeepMb")
    val range = zeroKeepMb - fullKeepMb
    val unit = (1L << 60) / range
    val hashFrac = conv(
      substring(md5(concat(lit(seed), col("doc_id").cast("string")).cast("binary")), 1, 15),
      16, 10).cast("long")
    surprisalDf(docs)
      .filter(hashFrac <
        least(greatest(lit(zeroKeepMb) - col("milli_bits_per_token"), lit(0L)),
          lit(range)) * lit(unit))
  }

  /** DataFrame-in body of d28 (shared with CurationPipeline's train-order
    * stage): deterministic training-order shuffle + shard assignment —
    * every doc gets a shard and an exact position within its shard's
    * training order, derived from md5(seed‖doc_id) so the order is
    * reproducible and layout-independent. Two-level decomposition (the
    * d22 lesson): rank within (shard, leading-hash-BYTE bucket) plus
    * broadcast per-bucket base offsets — the bucket is an
    * order-consistent PREFIX of the sort key, so no shard ever
    * serializes through one sort task. */
  private[graft] def trainOrderDf(docs: org.apache.spark.sql.DataFrame,
      nShards: Int = 8, seed: String = "ord:"): org.apache.spark.sql.DataFrame = {
    val keyed = docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        md5(concat(lit(seed), col("doc_id").cast("string")).cast("binary")).as("k"))
      .withColumn("shard", conv(substring(col("k"), 1, 1), 16, 10).cast("long") % nShards)
      .withColumn("bucket", conv(substring(col("k"), 1, 2), 16, 10).cast("long"))
    val counts = keyed.groupBy(col("shard"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("bucket"))
    val offsets = counts
      .withColumn("base", sum(col("n")).over(wOff) - col("n"))
      .select(col("shard"), col("bucket"), col("base"))
    val wRk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("bucket"))
      .orderBy(col("k"), col("doc_id"))
    keyed
      .withColumn("rk", row_number().over(wRk).cast("long"))
      .join(broadcast(offsets), Seq("shard", "bucket"))
      .select(col("doc_id"), col("shard"),
        (col("base") + col("rk") - 1).as("train_pos"))
  }

  /** DataFrame-in body of d33: BM25 top-k retrieval for a fixed bag of
    * query terms, in EXACT integer score units so the ranking (and the
    * tie-broken top-k cut) is bit-deterministic across engines and
    * partition layouts. Per (doc, term):
    *
    *   idf_milli  = round(ln((2N+2)/(2·df+1)) · 1000)   [Lucene
    *     ln(1 + (N−df+½)/(df+½)) rewritten as ONE ratio of exact
    *     integers — one libm call, the d31 round-absorbs-ulp discipline;
    *     always positive, so stopword terms never flip signs]
    *   tf_micro   = (44·tf·Ntok · 10⁶) div (20·tf·Ntok + 6·Ntok + 18·dl·N)
    *     [the k1=1.2, b=0.75 BM25 tf saturation with avgdl = Ntok/N,
    *     cleared of ALL fractions by multiplying through by 20·Ntok —
    *     exact integer numerator/denominator, then one floor divide
    *     into micro units ≤ 2.2·10⁶]
    *   score      = Σ_terms (idf_milli · tf_micro) div 1000   [micro units]
    *
    * Integer sums are order-independent, so partial aggregation cannot
    * flip a rank (the discipline that fixed e08). Headroom: 44·tf·Ntok·10⁶
    * fits a long through ~10¹⁰ corpus tokens; past that, widen the two
    * products to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the formula
    * is unchanged.
    *
    * Shuffle shape — NOTHING corpus-sized ever explodes or shuffles:
    * the per-doc statistics (dl and the per-term tf vector) come out of
    * ONE compiled byte pass over the text (the codegen'd
    * [[graft.functions.Bm25DocStats]] expression — the first
    * formulation tokenized every document TWICE through interpreted
    * regex/HOF chains, 4.05× the DuckDB twin at sf1); the corpus
    * globals (nd, Ntok) are one scalar agg over that scan. Because the
    * expression emits per-TERM counts, `posexplode(tfs)` already IS
    * the per-(doc, term) tf frame — the (doc_id, term) occurrence
    * exchange of the previous shape is gone entirely; the only
    * exchanges left are the vocab-sized df rollup (broadcast back) and
    * the final per-doc score rollup, both query volume, not corpus
    * volume; the top-k is a TakeOrdered, never a full sort. (An even
    * earlier formulation exploded the full token stream into three
    * consumer subtrees — 4.7× the DuckDB twin at sf0.1; this shape is
    * the one you'd want at 100 TB anyway: the inverted-index probe,
    * not three corpus passes.) */
  private[graft] def bm25TopKDf(docs: org.apache.spark.sql.DataFrame,
      qTerms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    // _st bound in its own projection so the two field reads hit the
    // attribute, not two re-evaluations of the byte pass (the d37
    // GopherStats binding discipline)
    val perDoc = docs
      .select(col("doc_id"),
        graft.functions.Bm25Exprs.bm25DocStats(col("text"), qTerms).as("_st"))
      .select(col("doc_id"), col("_st.ndl").as("ndl"), col("_st.tfs").as("tfs"))
    val glob = perDoc.agg(
      count(when(col("ndl") > 0, lit(1))).as("nd"),
      sum(col("ndl")).as("ntok"))
    // posexplode of the per-term count vector: one row per (doc, term)
    // with tf already aggregated in the scan — no occurrence stream, no
    // (doc_id, term) exchange; null text → null tfs → row drops, like
    // the old filter(size(qws) > 0) gate
    val tf = perDoc
      .select(col("doc_id"), col("ndl").as("dl"),
        posexplode(col("tfs")).as(Seq("ti", "tf")))
      .filter(col("tf") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(lit(qTerms.toArray), col("ti") + 1).as("term"), col("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idfMilli = round(log(
      (col("nd").cast("double") * 2 + 2) / (col("df").cast("double") * 2 + 1)) * 1000)
      .cast("long")
    val tfNum = lit(44L) * col("tf") * col("ntok")
    val tfDen = lit(20L) * col("tf") * col("ntok") + lit(6L) * col("ntok") +
      lit(18L) * col("dl") * col("nd")
    val tfMicro = Sim.floorDiv(tfNum * lit(1000000L), tfDen)
    tf.join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(glob))
      .select(col("doc_id"), col("dl"),
        Sim.floorDiv(idfMilli * tfMicro, lit(1000L)).as("ts"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ts")).as("score_micro"), max(col("dl")).as("dl"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("score_micro"), col("dl"))
  }

  /** DataFrame-in body of d34: add-one-smoothed BIGRAM LM surprisal —
    * the bigram extension of [[surprisalDf]], same exact-integer-bits
    * discipline: per bigram position, surprisal ≈ log2 of the smoothed
    * inverse probability (c(a·)+V)/(c(ab)+1), taken as bits(c(a·)+V) −
    * bits(c(ab)+1) with bits(x) = length(bin(x)) = ⌊log2 x⌋+1 — no libm
    * anywhere, so no cross-engine drift is POSSIBLE, and the per-doc sum
    * is an order-independent integer. History count c(a·) is the count
    * of bigrams starting with a (the conditional-model denominator);
    * V = corpus distinct unigrams (the add-one mass).
    *
    * Shuffle shape: NO text spread — bigram extraction is per-row, so
    * every consumer reads the column-pruned parquet scan directly
    * (data-local, no corpus-sized text exchange; a scan re-read beats
    * a text shuffle at any scale). The global (a,b) counts and the
    * history counts c(a·) both shrink map-side before their exchanges
    * (partial combine → distinct-ish size), with c(a·) folded from the
    * global count chain (same canonical (a,b) exchange → runtime-
    * reusable) rather than a third occurrence pass; both are
    * vocab-sized → broadcast (AQE self-demotes if a real vocab
    * outgrows an executor). The probe join stays SHUFFLE_HASH-hinted,
    * not broadcast (a post-agg row estimate is garbage-small and a
    * "small" bigram vocab at 100 TB is not broadcastable — the d20
    * lesson); the occurrence stream crosses exactly two exchanges
    * (probe (a,b), per-doc rollup). Docs with <2 tokens carry no
    * bigrams and drop, mirroring d25's zero-token convention. */
  private[graft] def bigramSurprisalDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"), words(col("text")).as("ws"))
    val bi = base
      .select(col("doc_id"), col("ws"),
        explode(when(size(col("ws")) >= 2, sequence(lit(1), size(col("ws")) - 1))).as("i"))
      .select(col("doc_id"),
        element_at(col("ws"), col("i")).as("a"),
        element_at(col("ws"), col("i") + 1).as("b"))
    // The global (a,b) count runs as its own bigram pass WITH map-side
    // partial combine (its exchange ships distinct-ish (a,b) partials,
    // not occurrences) — sharing the probe's raw repartition instead
    // was tried and rejected: partial-agg placement de-canonicalizes
    // the two consumers' exchanges (no reuse fires), and giving up the
    // combine to force sharing ships raw occurrences twice at scale.
    val bc = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    // ONE token-keyed pass yields both remaining model terms: a
    // bigram's history count c(a·) = Σ_b c(ab) is exactly the number
    // of NON-LAST positions holding token a (every non-last position
    // starts one bigram), and V is the distinct-token count — so
    // instead of a second bigram rollup plus a third distinct-count
    // corpus pass, explode tokens once with a last-position flag and
    // aggregate per token (map-side combine → vocab-sized exchange).
    val ta = base
      .select(posexplode(col("ws")).as(Seq("p", "t")),
        (size(col("ws")) - 1).as("last"))
      .groupBy(col("t"))
      .agg(sum(when(col("p") < col("last"), 1L).otherwise(0L)).as("ca"))
    // V (the distinct non-empty token count) rides INSIDE the
    // history-count frame as an unpartitioned window count over the
    // vocab-sized ta — ONE single-partition exchange appended to the
    // broadcast build, replacing the previous scalar-agg job + cross
    // join (two stage waves of pure dispatch at bench SF; the window
    // input is vocab-sized, i.e. exactly what the broadcast already
    // assumes fits one executor, so the single partition is free at
    // any scale the broadcast itself survives). The window must run
    // BEFORE the ca>0 filter: last-position-only tokens have ca=0 but
    // still count toward V.
    val v = sum(when(col("t") =!= "", 1L).otherwise(0L))
      .over(org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue))
    val hc = ta.select(col("t"), col("ca"), v.as("v"))
      .filter(col("ca") > 0).select(col("t").as("a"), col("ca"), col("v"))
    def bits(c: Column) = length(bin(c)).cast("long")
    bi.join(bc.hint("shuffle_hash"), Seq("a", "b"))
      .join(broadcast(hc), Seq("a"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(bits(col("ca") + col("v")) - bits(col("cab") + 1)).as("surprisal_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
        Sim.halfAwayDiv(col("surprisal_bits") * 1000, col("n_bigrams"))
          .as("milli_bits_per_bigram"))
  }

  /** Stage 1 of d13 and of the curation pipeline, after any language
    * gate: min length + repetition gate (dup-token fraction, the cheap
    * Gopher-style cut — d14's full stats) over a frame with a bound `ws`
    * token column; adds `n_tokens`. */
  private[graft] def lengthRepetitionGate(df: DataFrame, minTokens: Int,
      maxDupTokenFrac: Double): DataFrame = {
    val nTok = size(col("ws")).cast("long")
    val dupFrac = lit(1.0) -
      size(array_distinct(col("ws"))).cast("double") / nTok.cast("double")
    df.withColumn("n_tokens", nTok)
      .filter(col("n_tokens") >= minTokens && dupFrac <= maxDupTokenFrac)
  }

  /** Stage 2 of d13 and of the curation pipeline: exact dedup of a gated
    * (doc_id, text, ...) frame. Per md5(text) the min doc_id survives, or
    * with `bySource` d43's (source, doc_id)-minimum ([[sourceKeepers]]).
    * Shaped as groupBy(hash)→keeper + a doc_id semi-join back, NOT a
    * window over the full rows: the hash exchange then carries only
    * (md5, [source,] doc_id) fingerprints — at 100 TB that's shuffling
    * fingerprints, not the corpus — and the join-back reuses the doc_id
    * partitioning the corpus already has (plan-guarded in
    * PlanPropertiesSpec). */
  private[graft] def exactDedup(gated: DataFrame, bySource: Boolean = false): DataFrame = {
    val h = md5(col("text").cast("binary")).as("_h")
    val keepIds =
      if (bySource) sourceKeepers(gated.select(h, col("source"), col("doc_id")), "_h")
        .select(col("k.doc_id").as("doc_id"))
      else gated.select(h, col("doc_id"))
        .groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
    gated.join(keepIds, Seq("doc_id"), "left_semi")
  }

  /** Distinct-position word 5-grams (doc_id, gram) of a (doc_id, ws)
    * frame, via index explode: the generator is the cheap integer
    * sequence and each gram string is built once per OUTPUT row
    * (BENCH_NOTES explode discipline — exploding a computed string-array
    * column re-evaluates the whole array per output row, 42 s vs 3 s at
    * sf0.1 in r6). Docs with fewer than 5 words emit no row, or with
    * `outer` one null-gram marker row. */
  private[graft] def gram5(df: DataFrame, outer: Boolean = false): DataFrame = {
    val idx = when(size(col("ws")) >= 5, sequence(lit(1), size(col("ws")) - 4))
    val gram = ngramAt(col("ws"), col("i"), 5)
    df.select(col("doc_id"), col("ws"), (if (outer) explode_outer(idx) else explode(idx)).as("i"))
      .select(col("doc_id"), (if (outer) when(col("i").isNotNull, gram) else gram).as("gram"))
  }

  /** The distinct gram set of a (doc_id, ws) frame of benchmark docs. */
  private[graft] def benchGramSet(bench: DataFrame): DataFrame =
    gram5(bench).select(col("gram")).distinct()

  /** Stage 3 of d13 and of the curation pipeline's default engine: drop
    * every target sharing a word 5-gram with the benchmark docs (both
    * (doc_id, ws) frames). The benchmark gram set broadcasts, so the
    * exploded target side never shuffles for the join; the contaminated
    * ids leave by a left_anti join. */
  private[graft] def gramDecontam(targets: DataFrame, bench: DataFrame): DataFrame = {
    val contamIds = gram5(targets)
      .join(broadcast(benchGramSet(bench)), Seq("gram"))
      .select(col("doc_id")).distinct()
    targets.join(contamIds, Seq("doc_id"), "left_anti")
  }

  /** Stages 1-3 of d13 plus the near-dup SIGNATURE pass, ending in the
    * narrow per-document dedup index `(doc_id, n_tokens, mh)`: language
    * gate → [[lengthRepetitionGate]] → [[exactDedup]] → benchmark
    * decontamination ([[gramDecontam]]; every 20th doc is the benchmark)
    * → shingle + MinHash signature. These are the curation pipeline's
    * stage bodies, so the pipeline is d13 with a custom language gate.
    * Everything corpus-sized after this frame is 10 longs per row. */
  private[graft] def corpusCleanSigDf(docs: DataFrame): DataFrame = {
    val base = spreadWords(docs)
    def cnt(w: String*) = size(filter(col("ws"), x => x.isin(w: _*))).cast("long")
    val s1 = cnt("the", "a")
    val s2 = cnt("data", "spark", "stream")
    val s3 = cnt("join", "merge", "hash")
    val isBench = col("doc_id") % 20 === 0
    val exact = exactDedup(lengthRepetitionGate(base.filter(s1 >= s2 && s1 >= s3), 10, 0.6))
    // signature pass: each survivor reduced to its MinHash signature +
    // token count — the dedup INDEX, 10 longs per row
    gramDecontam(exact.filter(!isBench), base.filter(isBench))
      .select(col("doc_id"), col("n_tokens"), minHashSig(shingles(col("ws"))).as("mh"))
  }

  /** d13 end-to-end (see [[corpusCleanSigDf]] for stages 1-3): the
    * narrow dedup index is materialized ONCE (eager localCheckpoint —
    * a production cleanup run writes its survivor index out exactly
    * the same way), then BOTH the LSH/connected-components stage and
    * the final report consume the leaf. Before this split the gate →
    * dedup → decontam chain executed once inside the eager CC call and
    * AGAIN for every downstream materialization — two full corpus
    * passes per run where one suffices, at any scale. The checkpoint
    * is 10 longs/row (never text), so the materialization is the
    * fingerprint volume, not the corpus volume. */
  private[graft] def corpusCleanDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val idx = corpusCleanSigDf(docs).localCheckpoint()
    clusterMinKeepers(idx.select(col("doc_id"), col("n_tokens")), nearDupClusters(idx))
  }

  /** DataFrame-in body of d35: the distributed primitive of BPE
    * tokenizer TRAINING — corpus-wide adjacent symbol-pair counts inside
    * word boundaries, occurrence-weighted (each token occurrence votes,
    * the BPE objective), global top-k merge candidates. A full train
    * loop is a driver iteration of [top-1 pair → broadcast merge →
    * re-count], each round exactly this one scan + one map-side-
    * combinable pair aggregation; pair extraction is substr over an
    * exploded position index (both engines' substr is 1-based and
    * byte/char-identical on this ASCII corpus), never a per-char UDF.
    * Top-k is a TakeOrdered with ties broken on the pair itself. */
  private[graft] def bpeMergePairsDf(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc).limit(k)

  /** d41's MERGEABLE vocabulary: lowercase-alnum words of length ≥ 2.
    * BPE application is byte-level rewriting; pinning the domain to
    * ASCII alnum keeps every string op (substr, per-char spacing,
    * replace) code-point-exact across engines — multibyte words pass
    * through the gate unencoded rather than risking UTF-16-unit vs
    * code-point drift on astral input (the edge battery's doc 12). The
    * `^[a-z0-9]+$` class is in the Java∩RE2 common subset (the d17
    * pattern discipline). */
  private[graft] val bpeEligibleRe = "^[a-z0-9]+$"

  /** d41's merge table: d35's pair mining restricted to the mergeable
    * vocabulary — top-k within-word char pairs by (count DESC, pair
    * ASC). SINGLE-LEVEL ranking over raw characters applied once — real
    * BPE re-mines over the evolving symbol sequence per merge, so this
    * is a pair-frequency artifact in the d41 application semantics, not
    * a standard tokenizer's merges.txt. Bounded (k rows), so collecting
    * it to literals is the Sim "literal model" pattern: the merge list
    * plays the broadcast-trained-artifact ROLE a tokenizer table plays
    * in a deployment. */
  private[graft] def bpeMergesEligibleDf(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike(bpeEligibleRe))
      .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc).limit(k)

  /** DataFrame body of d41: APPLY the mined merges — the serving half
    * of the tokenizer story (d35 trains the merge ranking; this encodes
    * a corpus with it). Representation: each doc's mergeable words are
    * joined with ' / ' (a separator no merge can cross — symbols are
    * [a-z0-9] runs) and char-spaced by ONE top-level regexp_replace, so
    * a symbol boundary is always a space and a merge (a,b) is the
    * LITERAL string replace ' a b ' → ' ab '. Each merge runs PASSES
    * fixed passes of leftmost-non-overlapping replace — simultaneous
    * batch merging per pass, the vectorized-BPE variant (NOT the
    * strictly-one-occurrence-at-a-time textbook loop: a same-char run
    * like 'aaaa' converges to the alternating '[aa][aa]' split, and a
    * chain 'ththth' needs one pass per overlap depth — 4 passes cover
    * runs/chains to depth ~16, beyond any natural-language word).
    * Deterministic and engine-identical: Java's String replace and
    * DuckDB's replace share the continue-after-replacement scan, and
    * the oracle compares the md5 of the FULL encoded string.
    *
    * Scale shape: mining is d35's narrow (pair, cnt) aggregate; the
    * k-row merge table is collected to LITERALS baked into the replace
    * chain (the Sim literal-model pattern — a tokenizer is trained
    * once and shipped to every task); application is a pure per-row
    * map — ZERO exchanges at any corpus size, all codegen'd built-ins
    * (StringReplace/RegExpReplace/RegExpExtractAll). */
  private[graft] val BpePasses = 4

  /** Size of the d41 merge table. The DuckDB twin's pivot columns
    * (p1..pK) and encode chain are GENERATED from this same constant —
    * the Spark default and the SQL must agree or the gate silently
    * diverges (the twin is static SQL; it cannot read a runtime k). */
  private[graft] val BpeMerges = 8

  /** The mergeable-word array (see [[bpeEligibleRe]]) — bound via an
    * aliased projection before the encode columns consume it (the
    * tripwire doctrine). */
  private[graft] def bpeEligWords: Column =
    filter(words(col("text")), w => length(w) >= 2 && w.rlike(bpeEligibleRe))

  /** d41's per-row encode from a bound `elig` array column — shared by
    * the gate and the streaming twin (training is a batch job; serving
    * takes the collected merge snapshot as a literal model). ONE fused
    * codegen expression ([[graft.functions.BpeEncodeStats]]) replaces
    * the per-char regexp_replace + |merges|×passes `replace` chain +
    * regexp_extract_all count (32 full traversals with an intermediate
    * allocation each at the shipped config) with a single byte-level
    * encode per row; byte-equality with the chain spelling
    * ([[bpeEncodeColsChain]], kept as the spec reference) is pinned by
    * BpeApplySpec. The struct is bound via withColumn before its fields
    * are consumed (the d17 pattern — CollapseProject does not inline
    * non-cheap producers, so the encode runs once per row).
    * Columns appended: n_words, chars_total, syms_total, enc_fp. */
  private[graft] def bpeEncodeFrom(withElig: org.apache.spark.sql.DataFrame,
      merges: Seq[String]): org.apache.spark.sql.DataFrame =
    withElig
      .withColumn("_b", graft.functions.BpeExprs.bpeEncodeStats(
        col("elig"), merges, BpePasses))
      .select(col("doc_id"),
        col("_b").getField("n_words").as("n_words"),
        col("_b").getField("chars_total").as("chars_total"),
        col("_b").getField("syms_total").as("syms_total"),
        md5(col("_b").getField("enc").cast("binary")).as("enc_fp"))

  /** The builtin-chain spelling of [[bpeEncodeFrom]]'s encode — the
    * reference implementation the fused expression is spec-pinned
    * against (BpeApplySpec fused≡chain). Not on the serving path. */
  private[graft] def bpeEncodeColsChain(merges: Seq[String]): Seq[Column] = {
    // ' ' + per-char spacing of the ' / '-joined words: every symbol
    // (incl. the last) gets a trailing space, so ' a b ' patterns see
    // uniform boundaries; multi-space gaps at word joints still offer
    // the single leading/trailing space a match needs.
    val base = concat(lit(" "),
      regexp_replace(concat_ws(" / ", col("elig")), "(.)", "$1 "))
    val enc = merges.foldLeft(base) { (acc, p) =>
      val pat = s" ${p(0)} ${p(1)} "
      val rep = s" $p "
      (1 to BpePasses).foldLeft(acc)((a, _) => replace(a, lit(pat), lit(rep)))
    }
    Seq(
      size(col("elig")).cast("long").as("n_words"),
      coalesce(aggregate(col("elig"), lit(0L),
        (a, w) => a + length(w).cast("long")), lit(0L)).as("chars_total"),
      size(regexp_extract_all(enc, lit("[a-z0-9]+"), lit(0)))
        .cast("long").as("syms_total"),
      md5(enc.cast("binary")).as("enc_fp"))
  }

  private[graft] def bpeApplyDf(docs: org.apache.spark.sql.DataFrame,
      k: Int = BpeMerges): org.apache.spark.sql.DataFrame = {
    val merges: Seq[String] =
      bpeMergesEligibleDf(docs, k).collect().map(_.getString(0)).toSeq
    bpeEncodeFrom(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), bpeEligWords.as("elig")), merges)
  }

  /** DataFrame-in body of d36: the data-MIXING plan — given per-language
    * token inventories n_s and target mixture weights w_s (ppm, summing
    * to 10⁶), the largest epoch-1 corpus T that honors the mixture
    * without upsampling is T = min_s ⌊n_s·10⁶ / w_s⌋ (the binding
    * language is the scarcest relative to its target); each language
    * then contributes quota_s = ⌊w_s·T / 10⁶⌋ tokens at sampling rate
    * quota_s/n_s. Every step is a floor divide of exact non-negative
    * longs — the plan is reproducible to the token on any engine, and a
    * deployment feeds rate_ppm straight into the d23 hash-Bernoulli
    * sampler (rate = rate_ppm/10⁶) for a deterministic realization.
    * Shuffle shape: one language-keyed partial agg over the corpus
    * (5 groups), then literally-broadcast scalars — driver-free. */
  private[graft] def mixturePlanDf(docs: org.apache.spark.sql.DataFrame,
      enPpm: Long = 400000L, otherPpm: Long = 150000L): org.apache.spark.sql.DataFrame = {
    val inv = docs.filter(col("text").isNotNull)
      .groupBy(col("lang"))
      .agg(sum(tokenCount(col("text"))).as("n_tokens"))
      .withColumn("weight_ppm",
        when(col("lang") === "en", lit(enPpm)).otherwise(lit(otherPpm)))
    val cap = inv.agg(
      min(Sim.floorDiv(col("n_tokens") * lit(1000000L), col("weight_ppm"))).as("t_max"))
    inv.crossJoin(broadcast(cap))
      .select(col("lang"), col("n_tokens"), col("weight_ppm"),
        Sim.floorDiv(col("weight_ppm") * col("t_max"), lit(1000000L)).as("quota_tokens"))
      .withColumn("rate_ppm",
        Sim.floorDiv(col("quota_tokens") * lit(1000000L), col("n_tokens")))
  }

  /** The d37 stopword list (Gopher's "must contain ≥ 2 of a small
    * English stopword set" rule; shared with the oracle twin and the
    * codegen'd [[graft.functions.GopherStats]] expression). */
  private[graft] val gopherStops: Seq[String] =
    graft.functions.GopherStats.stops

  /** DataFrame-in body of d37: a Gopher-style RULE battery (MassiveText
    * §A1.1 shape) — where d02 reports raw ratios, this GATES: five
    * independent rules, each an exact-integer test, folded into one
    * fail bitmask (bit set = rule violated) and a keep flag. Rules:
    *
    *   bit 1  word count outside [10, 100000]
    *   bit 2  mean word length outside [3.0, 10.0] (milli units)
    *   bit 4  fewer than 2 distinct stopwords present
    *   bit 8  top token > 15% of tokens (repetition, ppm)
    *   bit 16 type-token ratio < 30% (diversity, ppm)
    *
    * All ratios are floor-divided ppm/milli integers (the d36
    * discipline), so the mask is bit-identical across engines. Docs
    * with zero tokens fail every n-dependent rule by convention.
    *
    * Shuffle shape: ZERO exchanges — every rule, including the top-token
    * count (a run-length fold over the doc's SORTED token array, so the
    * per-doc mode needs no (doc,term) explode+agg), is a per-row map
    * over bound columns; at 100 TB this is a pure scan-parallel gate,
    * the same class as d17/d23. The oracle twin pays the explode+
    * group-by because SQL has no per-row fold — the Spark shape is the
    * one you'd deploy. */
  /** Append d37's rule columns (n_words, mwl_milli, stop_hits, top_ppm,
    * ttr_ppm, fail_mask, keep) to `df`, reading tokens from the BOUND
    * non-empty-token array column `wsCol`. Shared by the d37 gate and
    * the curation pipeline's `gopherRules` toggle, so the pipeline
    * stage is pinned by the d37 oracle by construction. */
  private[graft] def withGopherRules(df: org.apache.spark.sql.DataFrame,
      wsCol: String): org.apache.spark.sql.DataFrame = {
    // all five statistics — per-token counts (mode count, distinct,
    // stopword hits) and character totals — in ONE compiled pass via
    // the codegen'd GopherStats expression (the first formulation
    // walked the array five times through interpreted HOFs: array_sort
    // + struct-state fold for the mode, a second fold for characters,
    // array_distinct, array_intersect — 2.6× the DuckDB twin at sf1).
    // _gs is bound in its own projection so the five field reads hit
    // the attribute, not five re-evaluations of the expression.
    val nz = col("n_words") > 0
    val mask =
      when(col("n_words").between(10L, 100000L), 0L).otherwise(1L) +
      when(nz && col("mwl_milli").between(3000L, 10000L), 0L).otherwise(2L) +
      when(col("stop_hits") >= 2L, 0L).otherwise(4L) +
      when(nz && col("top_ppm") <= 150000L, 0L).otherwise(8L) +
      when(nz && col("ttr_ppm") >= 300000L, 0L).otherwise(16L)
    df.withColumn("_gs", graft.functions.GateExprs.gopherStats(col(wsCol)))
      .withColumn("n_words", col("_gs.n_words"))
      .withColumn("stop_hits", col("_gs.stop_hits"))
      .withColumn("mwl_milli",
        when(nz, Sim.floorDiv(col("_gs.sum_len") * 1000L, col("n_words"))).otherwise(0L))
      .withColumn("top_ppm",
        when(nz, Sim.floorDiv(col("_gs.top_cnt") * 1000000L, col("n_words"))).otherwise(0L))
      .withColumn("ttr_ppm",
        when(nz, Sim.floorDiv(col("_gs.n_distinct") * 1000000L, col("n_words"))).otherwise(0L))
      .withColumn("fail_mask", mask)
      .withColumn("keep", when(col("fail_mask") === 0L, 1L).otherwise(0L))
      .drop("_gs")
  }

  private[graft] def gopherRulesDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // bind ws0 then ws: HOF lambdas touch only bound attributes (the
    // d20 lesson — a free-variable tokenization re-evaluates per
    // element); the multiply-referenced aliases block CollapseProject
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), words(col("text")).as("ws0"))
      .select(col("doc_id"), filter(col("ws0"), x => x =!= "").as("ws"))
    withGopherRules(base, "ws")
      .select(col("doc_id"), col("n_words"), col("mwl_milli"), col("stop_hits"),
        col("top_ppm"), col("ttr_ppm"), col("fail_mask"), col("keep"))
  }

  /** DataFrame-in body of d38: a feature-hashing LINEAR quality scorer —
    * the fastText-classifier shape (hashing trick: Weinberger et al.
    * 2009) with a deterministic weight table so the oracle can recompute
    * it: weight(token) = (int(md5(token)[0:8]) mod 2001) − 1000, i.e. a
    * pseudo-random integer weight in [−1000, 1000] keyed by the token's
    * hash bucket. A real deployment swaps that expression for a
    * broadcast weight array indexed by the same bucket id — the plan
    * shape (and this gate's cross-engine signal for the bucket/sum
    * plumbing) is identical.
    *
    * score_sum = Σ_tokens weight(token) is an order-independent integer
    * sum; score_milli is the half-away-rounded per-token mean; keep =
    * score_sum ≥ 0 (the classifier sign).
    *
    * Shuffle shape: ZERO exchanges — one `aggregate` fold per row over
    * the bound token array (one md5 per token, no explode, no
    * (doc,term) shuffle, no weight join). At 100 TB a model-based
    * quality scorer MUST be this shape: scan-parallel, mergeable across
    * shards, and stateless so the streaming gate path can reuse it
    * verbatim. */
  /** Append d38's score columns (score_sum, score_milli) to `df`,
    * reading tokens from the BOUND non-empty-token array column
    * `wsCol`. Shared by the d38 gate and the curation pipeline's
    * `minHashedScoreMilli` toggle — pipeline stage pinned by the d38
    * oracle by construction. */
  private[graft] def withHashedScore(df: org.apache.spark.sql.DataFrame,
      wsCol: String): org.apache.spark.sql.DataFrame =
    // one compiled pass (codegen'd HashedTokenScore: md5 over each
    // token's UTF8 bytes, first-32-bits bucket, mod-2001 weight) — the
    // interpreted `aggregate` fold issued the same md5s through a
    // per-element expression-tree walk
    df.withColumn("score_sum",
        graft.functions.GateExprs.hashedTokenScore(col(wsCol)))
      .withColumn("score_milli",
        when(size(col(wsCol)) > 0,
          Sim.halfAwayDiv(col("score_sum") * 1000L, size(col(wsCol)).cast("long")))
          .otherwise(0L))

  private[graft] def hashedScoreDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), words(col("text")).as("ws0"))
      .select(col("doc_id"), filter(col("ws0"), x => x =!= "").as("ws"))
    withHashedScore(base, "ws")
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        col("score_sum"), col("score_milli"),
        when(col("score_sum") >= 0L, 1L).otherwise(0L).as("keep"))
  }

  /** DataFrame-in body of d39 (shared with CurationPipeline's report
    * artifacts): per-(lang, source) doc inventory, corpus-wide
    * exact-duplicate volume + ppm, token inventory — see the d39 gate
    * for the window-over-fingerprint shape rationale. */
  private[graft] def sourceReportDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    docs
      .select(col("lang"), col("source"),
        md5(col("text").cast("binary")).as("fp"),
        tokenCount(col("text")).as("ntok"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(col("ntok")).as("n_tokens"))
      .withColumn("dup_ppm",
        Sim.floorDiv(col("dup_docs") * 1000000L, col("n_docs")))
  }

  /** DataFrame-in body of d40 (shared with CurationPipeline's report
    * artifacts): term counts log2-bucketed by bits(c), per bucket the
    * distinct-term count and occurrence mass. */
  private[graft] def zipfReportDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tc = docs
      .repartition(col("doc_id"))
      .select(explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    tc.groupBy(length(bin(col("c"))).cast("long").as("count_bits"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("n_occurrences"))
  }

  /** Compile a benchmark gram set into a serialized Bloom filter for
    * [[decontamFilterDf]]. Built distributed (`stat.bloomFilter` runs a
    * Spark aggregate over xxhash64(gram)); only the filter's bytes —
    * `ceil(-n·ln(fpp)/ln²2)` bits ≈ 1.8 MB at 1 M grams / 0.1 % — ever
    * reach the driver, and the same bytes broadcast to every executor
    * as one literal. Real eval suites are MBs of grams, so the filter
    * stays broadcast-sized at any corpus scale. */
  def benchBloomBytes(benchGrams: org.apache.spark.sql.DataFrame,
      gramCol: String = "gram", expectedItems: Long = 1000000L,
      fpp: Double = 0.001): Array[Byte] = {
    val bf = benchGrams.filter(col(gramCol).isNotNull)
      .select(xxhash64(col(gramCol)).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Stateless decontamination FILTER: drop any doc one of whose word
    * 5-grams appears in the (Bloom-compiled) benchmark set. Per row
    * this is a pure expression — `exists` over the 5-gram index range,
    * each element one xxhash64 + one Bloom probe (`might_contain`,
    * early-out on first hit) — so the stage needs NO join, NO shuffle,
    * NO state, and runs identically over a batch frame or an unbounded
    * stream ([[graft.streaming.StreamingBuckets.decontamStream]]): the
    * scale shape for "decontaminate 100 TB of ingest against a fixed
    * eval suite". Error is one-sided: a doc with a REAL benchmark
    * 5-gram is ALWAYS dropped (Bloom filters have no false negatives);
    * ~fpp of clean docs are conservatively over-dropped. Exact per-doc
    * contamination accounting stays on the batch path (d15, which this
    * filter mirrors: same `words`, same 5-gram window).
    *
    * The 5-gram hashes come from one compiled pass over the text
    * ([[graft.functions.GramHashes]], bit-identical to
    * `xxhash64(ngramAt(words(text), i, 5))`), so the lambda reads only its
    * own element and a row costs O(tokens). Binding `words` in a
    * projection first does not protect a lambda under a Filter: the
    * Filter is pushed below the projection with the alias substituted
    * (BENCH_NOTES). A null text is kept. */
  def decontamFilterDf(docs: DataFrame,
      bloomBytes: Array[Byte], textCol: String = "text"): DataFrame =
    docs.filter(!coalesce(
      exists(gramHashes(col(textCol), 5), h => bloomProbe(bloomBytes, h)), lit(false)))

  /** Full-signature string per doc (all 8 MinHash families, ':'-joined)
    * on BOUND columns — the band-free special case of LSH: signature
    * equality ⇒ very-high-Jaccard near-duplicate. Shingle-less docs
    * (<3 tokens, null text) get a NULL signature so they can never
    * collide. Shared by the batch reference-compile, the streaming
    * filters and the d43 keeper snapshot so every side hashes
    * identically. */
  private[graft] def sigStr(textCol: Column): Column = {
    // two nested aliased layers cannot be expressed inside one Column,
    // so callers bind ws first; here the input is the bound ws column
    val sh = shingles(textCol)
    sigStr(sh, minHashSig(sh))
  }

  /** [[sigStr]] over an already-bound shingle array `sh` and its
    * signature `mh`, for callers that also use the signature itself. */
  private[graft] def sigStr(sh: Column, mh: Column): Column =
    when(size(sh) >= 1, concat_ws(":", mh.cast("array<string>")))

  /** Compile a REFERENCE corpus (the held-out/eval snapshot) into a
    * Bloom filter over its full MinHash signature strings, for
    * [[graft.streaming.StreamingBuckets.crossNeardupStream]] — the
    * cross-corpus analogue of [[benchBloomBytes]]: eval suites are tiny
    * vs the ingest, so the filter stays broadcast-sized at any corpus
    * scale. Shingle-less reference docs are excluded (a NULL signature
    * must never poison the filter into dropping every short doc). */
  def refSigBloomBytes(refDocs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", expectedItems: Long = 1000000L,
      fpp: Double = 0.001): Array[Byte] =
    benchBloomBytes(
      refDocs.withColumn("__ws", words(col(textCol)))
        .select(sigStr(col("__ws")).as("sig"))
        .filter(col("sig").isNotNull),
      gramCol = "sig", expectedItems = expectedItems, fpp = fpp)

  /** Stateless cross-corpus near-dup FILTER: drop any doc whose full
    * signature appears in the (Bloom-compiled) reference set. Pure
    * per-row expression — no state, no join, no shuffle — so it runs
    * identically over a batch frame or an unbounded stream. Banded
    * candidate generation + exact Jaccard verify (docs similar to a
    * reference doc but not signature-identical) stay on the batch d29
    * path, exactly as nearDedupStream defers banding to the batch
    * compactor. Shingle-less docs always pass (their signature is NULL
    * and matches nothing). */
  def crossNeardupFilterDf(docs: DataFrame,
      refSigBloom: Array[Byte], textCol: String = "text"): DataFrame = {
    val sig = sigStr(col("__ws"))
    docs.withColumn("__ws", words(col(textCol)))
      .filter(sig.isNull || !bloomProbe(refSigBloom, xxhash64(sig)))
      .drop("__ws")
  }

  /** Compile a corpus SNAPSHOT's 16-token block contents into a Bloom
    * filter for [[spanDedupFilterDf]] — the d30 analogue of
    * [[benchBloomBytes]]: the snapshot's span inventory is the keeper
    * state a batch d30 run already owns, serialized to broadcast-sized
    * bytes (≈1.8 MB per million blocks at 0.1% fpp) so the ingest path
    * needs no join against it. Block extraction is [[spanBlocks]] —
    * the IDENTICAL content strings the batch flagger hashes. */
  def spanKeeperBloomBytes(snapshotDocs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", expectedItems: Long = 1000000L,
      fpp: Double = 0.001): Array[Byte] =
    benchBloomBytes(
      spanBlocks(snapshotDocs.withColumnRenamed(textCol, "text"))
        .select(col("content")),
      gramCol = "content", expectedItems = expectedItems, fpp = fpp)

  /** Stateless duplicate-SPAN removal against a snapshot keeper set —
    * the streaming twin of d30 ([[spanDedupDf]]): every 16-token block
    * of an incoming doc that already exists in the (Bloom-compiled)
    * snapshot is a duplicate span and is cut; the doc is rebuilt from
    * its surviving blocks in order, and a doc with nothing left
    * disappears. Pure per-row expression — the doc's own blocks live
    * inside its row, so there is NO explode, NO state, NO shuffle, and
    * the same frame-in/frame-out body runs over a batch frame or an
    * unbounded stream ([[graft.streaming.StreamingBuckets
    * .spanDedupStream]]): the scale shape for "strip known boilerplate
    * spans from 100 TB of ingest". Error is one-sided (Bloom): a block
    * REALLY in the snapshot is always cut; ~fpp of fresh blocks are
    * conservatively over-cut. What this twin does NOT do — exactly
    * like nearDedupStream defers banding — is dedup spans WITHIN the
    * stream horizon against each other; first-occurrence keeper
    * election stays on the batch d30 compactor, which backfills
    * exactly.
    *
    * Not O(tokens) per row: the `size(__keep) > 0` Filter is pushed
    * below the `__ws` projection with the alias substituted, so its
    * copy of the `__keep` lambda re-tokenizes the text per block
    * (`PlanInspect.freeTokenizationLambdas` flags it once). */
  def spanDedupFilterDf(docs: DataFrame,
      keeperBloom: Array[Byte], textCol: String = "text"): DataFrame = {
    def blockOf(k: Column): Column = {
      val bstart = lit(1L) + k * 16L
      array_join(slice(col("__ws"), bstart.cast("int"),
        least(lit(16L), col("__n") - bstart + 1L).cast("int")), " ")
    }
    docs
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
      .withColumn("__ws", words(col(textCol)))
      .withColumn("__n", size(col("__ws")).cast("long"))
      .withColumn("__keep", filter(
        when(col("__n") >= 1, sequence(lit(0L), expr("(__n + 15) DIV 16 - 1")))
          .otherwise(array().cast("array<long>")),
        k => !bloomProbe(keeperBloom, xxhash64(blockOf(k)))))
      .filter(size(col("__keep")) > 0)
      .withColumn(textCol, array_join(transform(col("__keep"), k => blockOf(k)), " "))
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .drop("__ws", "__n", "__keep")
  }

  // ------------------- d44 streaming snapshot (CCNet terciles) -------------------

  /** Compile a corpus snapshot's unigram LM for the d44 streaming twin:
    * (terms with count ≥ 2, their counts, n_total). Terms with count 1
    * are deliberately dropped — a [[graft.functions.SnapshotSurprisal]]
    * lookup miss scores bits(1), exactly what a count-1 term scores, so
    * the model bytes roughly halve with zero score drift. The arrays
    * are term-sorted for deterministic artifacts.
    *
    * `maxTerms` makes the model-artifact posture ENFORCEABLE, not an
    * analogy: with a cap, only the top-maxTerms terms by
    * (count DESC, term ASC) are kept — a driver-bounded TakeOrdered,
    * so the collect can never exceed the knob regardless of corpus
    * size (a 100 TB corpus's count≥2 vocabulary can exceed driver
    * memory; a KenLM-style deployment prunes for exactly this reason).
    * Score drift is BOUNDED by the miss≡count-1 convention: a pruned
    * term with true count c scores bits(1)=1 instead of bits(c), so
    * each of its occurrences inflates surprisal by exactly
    * bits(c) − 1 ≤ bits(c_K) − 1, where c_K is the smallest kept count
    * (pruning keeps the largest counts) — spec-pinned in
    * StreamingSpec. Uncapped (None) keeps every count≥2 term: scores
    * bit-identical to batch d44, the gate configuration. */
  def ccnetModelSnapshot(docs: org.apache.spark.sql.DataFrame,
      maxTerms: Option[Int] = None): (Array[String], Array[Long], Long) = {
    val freq = docs.select(explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nTotal = freq.agg(sum(col("c"))).collect()(0).getLong(0)
    val eligible = freq.filter(col("c") >= 2)
    val kept = maxTerms match {
      case Some(k) =>
        eligible.orderBy(col("c").desc, col("term").asc).limit(k)
          .orderBy(col("term"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
      case None =>
        eligible.orderBy(col("term"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
    }
    (kept.map(_._1), kept.map(_._2), nTotal)
  }

  /** Compile the snapshot's per-language tercile thresholds
    * (lang, t1, t2) for the d44 streaming twin — the batch d44 cut,
    * collected. Bounded by the language inventory (dozens), the
    * d15-Bloom "compile once, ship as literal" shape. */
  def ccnetThresholdSnapshot(docs: org.apache.spark.sql.DataFrame)
      : Array[(String, Long, Long)] =
    ccnetThresholdsDf(ccnetScoredDf(docs))
      .orderBy(col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  /** Stateless CCNet bucket labeling against a FROZEN snapshot (model +
    * thresholds): the d44 streaming twin body. Per row this is ONE
    * compiled byte pass ([[graft.functions.SnapshotSurprisal]]) plus a
    * literal threshold cascade — no join, no shuffle, no state, so the
    * same frame-in/frame-out body runs over a batch frame or an
    * unbounded stream. Scores are bit-identical to batch d44 for every
    * token the snapshot saw (count-1 terms included — see
    * [[ccnetModelSnapshot]]); OOV tokens score as count-1 (maximal
    * surprisal under the model). Docs in a language the snapshot has no
    * thresholds for get a NULL ppl_bucket (routing them is a policy
    * decision, not this operator's); zero-token/null-text docs drop,
    * matching the batch path. Re-cutting terciles over the stream's
    * own distribution is a batch compactor job — the same split of
    * labor as nearDedupStream vs banded d12. */
  def ccnetBucketFilterDf(docs: org.apache.spark.sql.DataFrame,
      terms: Array[String], counts: Array[Long], nTotal: Long,
      thresholds: Array[(String, Long, Long)]): org.apache.spark.sql.DataFrame = {
    val st = graft.functions.SurprisalExprs.snapshotSurprisal(
      col("text"), terms.toSeq, counts.toSeq, nTotal)
    val t1 = thresholds.foldLeft(lit(null).cast("long")) { case (acc, (l, a, _)) =>
      when(col("lang") === lit(l), lit(a)).otherwise(acc) }
    val t2 = thresholds.foldLeft(lit(null).cast("long")) { case (acc, (l, _, b)) =>
      when(col("lang") === lit(l), lit(b)).otherwise(acc) }
    docs
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
      .withColumn("__st", st)
      .filter(col("__st").getField("n_tokens") >= 1L)
      .select(col("doc_id"), col("lang"),
        Sim.halfAwayDiv(col("__st").getField("surprisal_bits") * 1000,
          col("__st").getField("n_tokens")).as("milli_bits_per_token"))
      .withColumn("ppl_bucket",
        when(t1.isNull, lit(null).cast("string"))
          .when(col("milli_bits_per_token") <= t1, lit("head"))
          .when(col("milli_bits_per_token") <= t2, lit("middle"))
          .otherwise(lit("tail")))
  }

  // --------------- d43 streaming snapshot (source-priority keepers) ---------------

  /** Compile a corpus snapshot's keeper verdicts for the d43 streaming
    * twin: one Bloom filter PER SNAPSHOT SOURCE RANK, ascending —
    * `bloom(s)` holds the full MinHash signature strings of every
    * member of every near-dup cluster whose ELECTED KEEPER's source is
    * lexicographically ≤ s. The filters are nested by construction
    * (rank r's set ⊆ rank r+1's), so the stream side picks the bloom of
    * the largest snapshot source ≤ its own source and one probe decides
    * the duel: a signature hit means the snapshot already holds a
    * keeper at better-or-equal priority (same-source ties go to the
    * snapshot — its doc_ids precede any new arrival). Source
    * inventories are small (this is a provenance table), so "a few
    * Blooms" stays broadcast-sized at any corpus scale. */
  def keeperSigBloomsByRank(docs: org.apache.spark.sql.DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.001)
      : Seq[(String, Array[Byte])] = {
    val sigd = docs
      .filter(col("doc_id").isNotNull)
      .repartition(col("doc_id"))
      .withColumn("__ws", words(col("text")))
      .withColumn("__sh", shingles(col("__ws")))
      .withColumn("__mh", minHashSig(col("__sh")))
    val comps = nearDupClusters(sigd.select(col("doc_id"), col("__mh").as("mh")))
    val cl = clusteredBySource(docs.select(col("doc_id"), col("source")), comps)
    val keepers = sourceKeepers(cl).select(col("cluster"), col("k.source").as("__ksrc"))
    val sigs = sigd.select(col("doc_id"), sigStr(col("__sh"), col("__mh")).as("sig"))
    val memberSigs = cl.join(keepers, Seq("cluster"))
      .join(sigs, Seq("doc_id"))
      .filter(col("sig").isNotNull)
      .select(col("__ksrc"), col("sig"))
      .localCheckpoint() // one CC + sig pass feeds every rank's filter
    val sources = memberSigs.select(col("__ksrc")).distinct()
      .collect().map(_.getString(0)).sorted
    sources.toSeq.map { s =>
      s -> benchBloomBytes(memberSigs.filter(col("__ksrc") <= s),
        gramCol = "sig", expectedItems = expectedItems, fpp = fpp)
    }
  }

  /** Stateless cross-source keeper duel against a snapshot — the d43
    * streaming twin body: drop a doc whose full signature appears in
    * the rank-appropriate snapshot Bloom (the snapshot's keeper is at
    * better-or-equal source priority), keep it otherwise (the stream
    * doc would WIN the duel; actually re-electing the snapshot keeper
    * is the batch compactor's job, exactly as nearDedupStream defers
    * banding). A stream source below every snapshot source outranks
    * all keepers and always passes. Signature equality is the
    * band-free LSH special case (the crossNeardupStream note); Bloom
    * error is one-sided — a REAL keeper-owned signature always drops.
    * Shingle-less docs (NULL signature) always pass. */
  def keeperPriorityFilterDf(docs: DataFrame, ranked: Seq[(String, Array[Byte])]): DataFrame = {
    val sig = sigStr(col("__ws"))
    val h = xxhash64(sig)
    // ascending fold → the outermost branch is the LARGEST snapshot
    // source ≤ the stream source (the blooms are nested, so the
    // tightest applicable rank is the correct one to probe)
    val lost = ranked.sortBy(_._1).foldLeft(lit(false)) { case (acc, (s, bytes)) =>
      when(col("source") >= lit(s), bloomProbe(bytes, h)).otherwise(acc)
    }
    docs.withColumn("__ws", words(col("text")))
      .filter(sig.isNull || !lost)
      .drop("__ws")
  }

  // ---------------- d45 streaming snapshot (containment dedup) ----------------

  /** Compile a corpus snapshot's shingle inventory into ONE Bloom
    * filter for [[containmentFilterDf]] — the d45 analogue of
    * [[spanKeeperBloomBytes]], at shingle (3-token) granularity instead
    * of 16-token blocks. */
  def containmentBloomBytes(snapshotDocs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", expectedItems: Long = 1000000L,
      fpp: Double = 0.001): Array[Byte] =
    benchBloomBytes(
      snapshotDocs.select(
        explode(array_distinct(shingles(words(col(textCol))))).as("sh")),
      gramCol = "sh", expectedItems = expectedItems, fpp = fpp)

  /** Stateless containment-dedup FILTER against a snapshot — the d45
    * streaming twin body: drop any doc whose distinct shingles are
    * ≥ `tauMilli`/1000 contained in the snapshot's shingle inventory.
    * Containment here is against the CORPUS UNION, not a single
    * snapshot doc — a deliberate, disclosed strengthening: per-pair
    * containment ≤ corpus containment, so every doc the batch d45
    * would evict against a single snapshot doc is dropped here too
    * (no false keeps vs batch), while a doc assembled from shingles
    * SPREAD ACROSS many snapshot docs is conservatively over-dropped
    * (for dedup-before-training that quotes-mosaic is usually exactly
    * what you want gone). Bloom fpp adds ~fpp per-shingle one-sided
    * error on top. Exact per-pair containment (and keeper election)
    * stays on the batch d45 compactor. Per row this is one compiled
    * shingle-hash pass ([[graft.functions.GramHashes]]) and a Bloom
    * probe per distinct hash — no join, no shuffle, no state. Docs
    * with no shingles (null text included) always pass. The distinct
    * shingles are counted by hash, so the one possible difference from
    * counting shingle strings is two distinct shingles of one doc that
    * collide in 64-bit xxhash64. */
  def containmentFilterDf(docs: org.apache.spark.sql.DataFrame,
      snapshotBloom: Array[Byte], tauMilli: Long = 800L,
      textCol: String = "text"): DataFrame = {
    docs
      .withColumn("__ss", array_distinct(
        coalesce(gramHashes(col(textCol), 3), array().cast("array<bigint>"))))
      .withColumn("__hits",
        size(filter(col("__ss"), h => bloomProbe(snapshotBloom, h))).cast("long"))
      .filter(size(col("__ss")) === 0 ||
        col("__hits") * 1000L < lit(tauMilli) * size(col("__ss")).cast("long"))
      .drop("__ss", "__hits")
  }

  /** Shared body of d29 (and CurationPipeline's NearDup decontamination
    * engine): the distinct TARGET doc_ids whose shingle Jaccard with any
    * REFERENCE doc reaches 0.5. `docs` must carry (doc_id, text) for the
    * union of both corpora; `isRef` classifies a doc_id column — it must
    * be decidable from the id alone because the candidate pairs carry
    * only ids. Same machinery as d20 (ONE signature pass over the union
    * corpus, band-bucket candidates, exact verify on bound shingle sets
    * — all the PlanGuardSpec disciplines apply), with candidates
    * restricted to CROSS pairs: an in-corpus duplicate never blocks a
    * target doc. Scale shape: the reference corpus is an eval suite
    * (tiny vs 100 TB), so the cross restriction prunes bucket pair
    * generation to |bucket∩ref|·|bucket∩tgt| — the decontamination
    * regime, far below the in-corpus pair count. */
  private[graft] def crossNeardupContaminatedIds(
      docs: org.apache.spark.sql.DataFrame,
      isRef: Column => Column): org.apache.spark.sql.DataFrame = {
    val sets = shingleSets(docs)
    val pairs = lshCandidatePairs(setSignatures(sets))
      .filter(isRef(col("doc_id_a")) =!= isRef(col("doc_id_b")))
    verifyJoin(pairs, sets)
      .filter(pairJaccard >= 0.5)
      .select(when(isRef(col("doc_id_a")), col("doc_id_b"))
        .otherwise(col("doc_id_a")).as("doc_id"))
      .distinct()
  }

  /** The d12 gate's exact edge list (md5 Carter–Wegman signatures →
    * star edges), exposed so ScaleCheck can verify the clustering
    * against an independent connected-components formulation at SFs the
    * DuckDB oracle cannot reach. */
  private[graft] def d12Edges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    lshStarEdges(withShingles(s, dir))

  /** Documents with tokenization, 3-gram shingles and their MinHash
    * signature `mh` materialized as bound columns, spread across the
    * default shuffle parallelism — the testdata parquet is a single
    * row-group, so without a repartition every downstream map runs on
    * one core. At cluster scale the same repartition co-locates by
    * doc_id, which the groupBy/band shuffle reuses.
    *
    * The signature definition: ONE md5 per shingle, split into two
    * 32-bit halves (h1, h2); family i is (h1 + i·h2) mod p — 8 families
    * for one digest instead of 8 digests per shingle (standard
    * Carter–Wegman / Broder minwise-family construction). The md5 and
    * the hex→int split are identical in DuckDB, so the oracle (dHh /
    * dMinhash below) computes the same signatures. Computed by the
    * codegen'd [[graft.functions.MinHashSig]] expression: all 8 family
    * minima in one pass over the array, no hex string round-trip, no
    * interpreted higher-order-function lambdas (measured d06 1.36 s →
    * 0.25 s at sf0.1 across the two steps).
    *
    * PERF (historical, still load-bearing for the remaining HOFs in
    * this file): a free-variable expression tree inside a
    * higher-order-function lambda is re-evaluated PER ELEMENT, which
    * turned whole-document tokenization quadratic (199 s at sf0.1;
    * 1.3 s once bound to a real column).
    */
  private def withShingles(s: org.apache.spark.sql.SparkSession, dir: String) =
    spreadWords(t(s, dir, "documents"))
      .withColumn("sh", shingles(col("ws")))
      .withColumn("mh", minHashSig(col("sh")))

  /** (doc_id, ss): each doc's DISTINCT shingle set on BOUND columns —
    * two aliased projections (`ws` then `ss`) over ONE
    * repartition(doc_id) spread, the shape shared by d20, d29, d42, d45
    * and the NearDup decontamination engine. CollapseProject refuses to
    * inline a multiply-referenced alias, so `words` tokenizes each doc
    * exactly ONCE and the HOF lambdas inside `shingles` see a bound
    * attribute, not a free expression. (The r9 inline composition
    * shingles(words(text)) re-tokenized the doc inside every element_at
    * — O(tokens²)/doc — and the intended "shared set stage" never
    * materialized: the projection floated above the exchange, which
    * shipped raw text, so the quadratic pass ran in all THREE consumer
    * subtrees. Matched-pair 2.4→29 s. BENCH_NOTES documents both traps;
    * PlanGuardSpec now enforces them.) The linear-per-doc shingle
    * compute runs once per consumer subtree off the reused text
    * exchange — deliberately NOT shared as a computed exchange, which
    * would ship corpus-sized shingle arrays (several × the raw text)
    * through a second wide-row shuffle. */
  private[graft] def shingleSets(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .filter(col("doc_id").isNotNull)
      .repartition(col("doc_id"))
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), array_distinct(shingles(col("ws"))).as("ss"))

  /** (doc_id, mh) signatures of [[shingleSets]]: every minhash family
    * value is a MIN over the shingles, so array_distinct cannot change
    * it — bit-identical to the multiset signature the oracle computes. */
  private def setSignatures(
      sets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sets.select(col("doc_id"), minHashSig(col("ss")).as("mh"))

  /** Candidate pairs (doc_id_a, doc_id_b, ...) joined to both docs'
    * shingle sets as `sa`/`sb` — the verification joins of d20, d29,
    * d42 and d45. NEVER broadcast: the pair side GROWS with the corpus
    * and its static size estimate (post agg + double explode) is
    * garbage-small, so the unhinted planner broadcast it: fine at sf0.1
    * (35 pairs), a driver OOM at sf10 (31.5 M pairs, found by the r7
    * full-battery sf10 gate). Join 1 shuffle-hashes BUILDING on the
    * NARROW pair rows (16 B/row — hashing them beats sorting the
    * corpus-sized wide shingle arrays). Join 2 must stay MERGE: its
    * smaller side is the join-1 output (pairs + a full shingle set per
    * row), and a ShuffledHashJoin build is NOT spillable — building
    * that side at sf10 dies with "Can't acquire 2 GiB to build hash
    * relation", while merge sorts spill. Plan-guarded: one SHJ, one
    * SMJ, zero broadcasts. */
  private def verifyJoin(pairs: org.apache.spark.sql.DataFrame,
      sets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pairs.hint("shuffle_hash")
      .join(sets.select(col("doc_id").as("doc_id_a"), col("ss").as("sa")),
        Seq("doc_id_a"))
      .join(sets.select(col("doc_id").as("doc_id_b"), col("ss").as("sb")).hint("merge"),
        Seq("doc_id_b"))

  /** |sa ∩ sb| of a [[verifyJoin]] row. */
  private def pairInter: Column = size(array_intersect(col("sa"), col("sb"))).cast("double")

  /** Exact shingle-set Jaccard of a [[verifyJoin]] row. */
  private def pairJaccard: Column =
    pairInter / ((size(col("sa")) + size(col("sb"))).cast("double") - pairInter)

  /** Near-dup clusters of a signature frame (doc_id, mh, ...): star
    * edges under the d42 `banding` label, then connected components —
    * (id, rep) for every doc in a multi-member cluster; singletons have
    * no row. The one clustering body of d12, d13, d43, the d43 keeper
    * snapshot and the curation `04_corpus` stage. */
  private[graft] def nearDupClusters(sig: org.apache.spark.sql.DataFrame,
      banding: String = "b4r2"): org.apache.spark.sql.DataFrame = {
    val (nBands, rowsPerBand) = lshBandingOf(banding)
    graft.operators.ConnectedComponents.components(
      lshStarEdges(sig, nBands, rowsPerBand), dedupeEdges = false)
  }

  /** The min-doc_id keeper rule over [[nearDupClusters]] output: keep a
    * doc iff it is its cluster's rep or in no cluster. Shared by d13
    * and the curation `04_corpus` stage. */
  private[graft] def clusterMinKeepers(docs: org.apache.spark.sql.DataFrame,
      comps: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.join(comps, docs("doc_id") === comps("id"), "left")
      .filter(col("rep").isNull || col("rep") === docs("doc_id"))
      .drop("id", "rep")

  /** Docs tagged with their near-dup cluster id: left-join the CC
    * labels ((id, rep) from [[graft.operators.ConnectedComponents]]),
    * singletons cluster as themselves. Shared by the d43 gate and the
    * pipeline's source-priority keeper stage. */
  private[graft] def clusteredBySource(
      docs: org.apache.spark.sql.DataFrame,
      comps: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.join(comps, docs("doc_id") === comps("id"), "left")
      .select(docs("doc_id"), col("source"),
        coalesce(col("rep"), docs("doc_id")).as("cluster"))

  /** d43's keeper rule: per cluster, the (source, doc_id)-minimum —
    * source rank beats arrival order (a deployment swaps the
    * lexicographic rank for a rank-table join; the selection shape is
    * identical). ONE map-side-combinable min(struct) agg keyed by
    * cluster: skew-safe — a 10⁶-member cluster partial-aggregates to
    * one struct per map task where a per-cluster row_number window
    * would sort the whole cluster in one task. Returns (`key`, k) with
    * k = struct(source, doc_id) of the keeper; [[exactDedup]] keys the
    * same rule by text hash. */
  private[graft] def sourceKeepers(cl: DataFrame, key: String = "cluster"): DataFrame =
    cl.groupBy(col(key)).agg(min(struct(col("source"), col("doc_id"))).as("k"))

  private val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  /** Band-key expression for band `b` of an (nBands × rowsPerBand)
    * banding over the 8-value `mh` signature array: the band index plus
    * its `rowsPerBand` minhash values, ':'-delimited. The delimiter is
    * load-bearing: minhashes are variable-width decimal longs, so bare
    * concatenation aliases distinct tuples — (1,23) and (12,3) both
    * give "123" — and spuriously buckets unrelated docs. This ONE
    * constructor is shared by the production banding ([[lshBanded]])
    * and the d42 tuning report ([[lshTuningDf]]), so a banding chosen
    * from the report keys buckets identically in deployment. */
  private[graft] def bandKeyExpr(b: Int, rowsPerBand: Int): Column =
    concat((lit(s"$b:") +: (0 until rowsPerBand).flatMap(k =>
      Seq(lit(":"), element_at(col("mh"), b * rowsPerBand + k + 1))).drop(1)): _*)

  /** Parse a d42 grid label ("b8r1" / "b4r2" / "b2r4") to
    * (nBands, rowsPerBand) — the deployment-facing banding parameter
    * shares the tuning report's vocabulary, so "act on the d42 row you
    * picked" is a one-string config change. */
  private[graft] def lshBandingOf(label: String): (Int, Int) =
    lshTuningConfigs.find(_._1 == label) match {
      case Some((_, r)) => (8 / r, r)
      case None => throw new IllegalArgumentException(
        s"unknown LSH banding '$label' — valid: " +
          lshTuningConfigs.map(_._1).mkString(", "))
    }

  /** (doc_id, band_key) rows — one per doc per band — of a signature
    * frame (doc_id, mh, ...).
    *
    * Docs with no shingles (<3 tokens, or null text) have NULL minhashes
    * → NULL band keys. groupBy treats NULLs as EQUAL — without the
    * isNotNull filter every shingle-less doc lands in one giant bucket
    * and generates spurious pairs (the SQL oracle's equi-join drops NULL
    * keys, so this also diverges cross-engine). Found by edge-case
    * battery, kept as a guard. */
  private def lshBanded(sig: org.apache.spark.sql.DataFrame,
      nBands: Int, rowsPerBand: Int): org.apache.spark.sql.DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 until nBands).map(b => bandKeyExpr(b, rowsPerBand)): _*)).as("band_key"))
      .filter(col("band_key").isNotNull && col("doc_id").isNotNull)

  /** Buckets as (band_key, ids ≤ maxBucket sorted asc, n = TRUE size).
    * The aggregation buffer is a bounded K-smallest heap
    * ([[graft.functions.SmallestKAgg]]), O(maxBucket) at map side,
    * merge, and final — a degenerate band key (hundreds of millions of
    * boilerplate dups at 100 TB) can no longer OOM the one task that
    * owns it, and map-side partial agg ships at most K ids per key.
    * Equivalent to the old sort_array(collect_set)+slice for every
    * bucket under the cap; `n` keeps truncation observable above it.
    */
  private[graft] def lshBuckets(sig: org.apache.spark.sql.DataFrame,
      nBands: Int = 4, maxBucket: Int = 2048,
      rowsPerBand: Int = 2): org.apache.spark.sql.DataFrame =
    cappedBuckets(lshBanded(sig, nBands, rowsPerBand), Nil, maxBucket)

  /** [[lshBuckets]] over a banded frame (keys..., band_key, doc_id):
    * (keys..., band_key, ids, n) per multi-member bucket. */
  private def cappedBuckets(banded: org.apache.spark.sql.DataFrame,
      keys: Seq[Column], maxBucket: Int): org.apache.spark.sql.DataFrame =
    banded
      .groupBy(keys :+ col("band_key"): _*)
      .agg(graft.functions.SmallestKAgg.smallestK(maxBucket)(col("doc_id")).as("b"))
      .select(keys ++ Seq(col("band_key"), col("b.ids").as("ids"), col("b.n").as("n")): _*)
      .filter(col("n") > 1)

  /** All candidate pairs (a < b) within each bucket, with a hard cap on
    * bucket size. The in-bucket pair flatten is O(|bucket|²) in ONE task,
    * so a degenerate band key (mass-duplicated boilerplate at 100 TB)
    * would otherwise be a single-task OOM: `maxBucket` bounds the per-row
    * array (and the pair explosion to maxBucket²/2). Truncation is never
    * silent — the number of docs dropped past the cap and the largest
    * bucket seen are emitted as the observed metric
    * `lsh_bucket_truncation` (visible to any QueryExecutionListener /
    * the Spark UI), so a capped run is auditable. Docs beyond the cap in
    * one band can still pair via their other bands. For dedup
    * CLUSTERING don't use this at all — `lshStarEdges` preserves
    * connectivity with O(|bucket|) rows and needs no cap.
    */
  private[graft] def lshCandidatePairs(sig: org.apache.spark.sql.DataFrame,
      nBands: Int = 4, maxBucket: Int = 2048,
      rowsPerBand: Int = 2): org.apache.spark.sql.DataFrame =
    bucketPairs(lshBuckets(sig, nBands, maxBucket, rowsPerBand), Nil, maxBucket,
      "lsh_bucket_truncation")

  /** Distinct (keys..., doc_id_a, doc_id_b) pairs of a [[cappedBuckets]]
    * frame, with bucket truncation observed as `metric`. Pairs via
    * DOUBLE INDEX explode (i < j over the capped ids array): the
    * generators are cheap integer sequences and each pair is built once
    * per output row. The previous flatten(transform(transform)) shape
    * materialized the whole O(b²) struct array per bucket row (~32 MB
    * at the 2048 cap) before exploding it — measured 5× slower on
    * cap-sized buckets and a per-task allocation spike the index shape
    * never pays. */
  private def bucketPairs(buckets: org.apache.spark.sql.DataFrame, keys: Seq[Column],
      maxBucket: Int, metric: String): org.apache.spark.sql.DataFrame =
    buckets
      .observe(metric,
        sum(when(col("n") > maxBucket, col("n") - maxBucket)
          .otherwise(0L)).as("truncated_docs"),
        max(col("n")).as("max_bucket"))
      .select(keys ++ Seq(col("ids"), explode(sequence(lit(1), size(col("ids")) - 1)).as("i")): _*)
      .select(keys ++ Seq(col("ids"), col("i"),
        explode(sequence(col("i") + 1, size(col("ids")))).as("j")): _*)
      .select(keys ++ Seq(element_at(col("ids"), col("i")).as("doc_id_a"),
        element_at(col("ids"), col("j")).as("doc_id_b")): _*)
      .distinct()

  /** DataFrame body of d42: the LSH banding TUNING report — the dedup
    * family's analogue of e18's ANN recall report. For three band
    * configurations over the SAME 8 minhash values — (8 bands × 1 row),
    * (4 × 2, the d07/d12/d13 production config), (2 × 4) — report the
    * candidate-pair volume (the cost axis) and the exactly-verified
    * duplicate count (the yield axis), plus recall against the most
    * sensitive config's verified set. Any pair matching an r-row band
    * also matches each of that band's 1-row sub-bands, so candidates
    * (and verified pairs) of every coarser config are a SUBSET of
    * b8r1's — b8r1's verified set is a sound recall denominator without
    * computing all-pairs ground truth. recall_ppm is exact long floor
    * arithmetic (the d36 discipline).
    *
    * Runs on a DETERMINISTIC 10% sample (doc_id % 10 = 3 — a residue
    * class no other gate's benchMod convention uses): banding curves
    * are corpus statistics, and b8r1's single-row bands are Θ(pairs·
    * P[any minhash collides]) — measured 0.67% of ALL pairs on this
    * corpus, which is quadratic blowup at full sf10 volume. Tuning on
    * a sample is exactly what a 100 TB deployment does; the REPORT is
    * sampled, the production dedup (d12/d13) still runs the chosen
    * config over the full corpus. Verification reuses d20's join
    * discipline (narrow shuffle-hash build + merge second side, never
    * broadcast).
    *
    * Oracle-divergence caveat: buckets are capped at 2048 ids (the
    * lshCandidatePairs bound) while the DuckDB twin self-joins
    * uncapped — identical results hold only while no bucket exceeds
    * the cap (true on this corpus family; the 10% sample keeps buckets
    * far from the bound). A capped run is never silent: the
    * `lsh_tuning_bucket_truncation` observed metric reports
    * truncated_docs/max_bucket, and nonzero truncation also voids the
    * verified(cfg) ⊆ verified(b8r1) recall denominator (coarser
    * configs truncate later than b8r1). */
  private[graft] def lshTuningDf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val sets = shingleSets(t(s, dir, "documents").filter(col("doc_id") % 10 === 3))
    // ONE explode of all 14 (config, band_key) structs per doc — a
    // 3-branch union would re-evaluate the sig chain (scan → shingles →
    // minhash) once per config
    val banded = setSignatures(sets).select(col("doc_id"), explode(array(
      lshTuningConfigs.flatMap { case (cfg, r) =>
        (0 until 8 / r).map { b =>
          // the SHARED band-key constructor — the report measures the
          // exact keys lshBanded(nBands, r) deploys
          struct(lit(cfg).as("config"), bandKeyExpr(b, r).as("band_key"))
        }
      }: _*)).as("cb"))
      .select(col("doc_id"), col("cb.config").as("config"),
        col("cb.band_key").as("band_key"))
      .filter(col("band_key").isNotNull)
    // Same 2048-id bucket cap as lshCandidatePairs, and the same
    // truncation-is-never-silent discipline: the DuckDB twin self-joins
    // UNCAPPED, so a (config, band_key) bucket past the cap would
    // silently undercount n_candidates/n_verified AND break the
    // verified(cfg) ⊆ verified(b8r1) recall-denominator argument
    // (coarse configs have fewer, larger buckets and truncate later).
    // The observed metric makes a capped tuning run auditable exactly
    // like a capped pair run — nonzero truncated_docs means the report
    // (and its oracle twin) must be re-read with that caveat.
    val byConfig = Seq(col("config"))
    val pairs = bucketPairs(cappedBuckets(banded, byConfig, 2048), byConfig, 2048,
      "lsh_tuning_bucket_truncation")
    // verify per (config, pair) row directly — the config duplication
    // (≤3×) is trivial against re-deriving the whole shingle chain for
    // a distinct-pair branch, and it keeps the query ONE linear flow:
    // banded → buckets → pairs → verify joins → two tiny aggregates.
    // n_true needs no separate subtree: verified(cfg) ⊆ verified(b8r1)
    // (the subset argument above), so the reference count IS the max
    // n_verified across the report's own rows — a window over ≤3 rows.
    val ver = verifyJoin(pairs, sets)
      .select(col("config"), when(pairJaccard >= 0.5, 1L).otherwise(0L).as("dup"))
    // ONE conditional global aggregate (map-side combinable to a single
    // row) instead of groupBy(config) + an all-rows window: the config
    // grid is a 3-element literal, so per-config counts are 6 columns
    // of one row and the recall denominator is greatest() of three of
    // them. Every config is always reported (zero rows included) — a
    // tuning report with a silently missing config reads as "not
    // measured" when it means "found nothing".
    val aggCols: Seq[Column] = lshTuningConfigs.flatMap { case (cfg, _) => Seq(
      coalesce(sum(when(col("config") === cfg, 1L).otherwise(0L)), lit(0L)).as(s"c_$cfg"),
      coalesce(sum(when(col("config") === cfg, col("dup")).otherwise(0L)), lit(0L)).as(s"v_$cfg")) }
    val one = ver.agg(aggCols.head, aggCols.tail: _*)
    val nTrue = greatest(lshTuningConfigs.map { case (cfg, _) => col(s"v_$cfg") }: _*)
    one.select(explode(array(lshTuningConfigs.map { case (cfg, _) =>
        struct(lit(cfg).as("config"), col(s"c_$cfg").as("n_candidates"),
          col(s"v_$cfg").as("n_verified"))
      }: _*)).as("r"), nTrue.as("n_true"))
      .select(col("r.config").as("config"),
        col("r.n_candidates").as("n_candidates"),
        col("r.n_verified").as("n_verified"),
        col("n_true"),
        when(col("n_true") === 0, 0L)
          .otherwise(expr("(r.n_verified * 1000000) div n_true")).as("recall_ppm"))
  }

  /** d42's banding grid: (label, rows-per-band) over the 8-value
    * signature. */
  private[graft] val lshTuningConfigs = Seq(("b8r1", 1), ("b4r2", 2), ("b2r4", 4))

  /** Star edges (bucket-min, member) per bucket — the scale path for
    * dedup clustering. Any two members of a bucket are connected through
    * the bucket minimum, so connected components over star edges are
    * IDENTICAL to components over all in-bucket pairs, at O(|bucket|)
    * rows instead of O(|bucket|²): a million-doc boilerplate bucket emits
    * 1M edges, not 5·10¹¹ pairs. No cap, no truncation, no lost
    * connectivity.
    *
    * Shape: scalar min/count agg per band key, then join the minima back
    * to the banded rows — NO per-bucket array is ever buffered anywhere
    * (the r4 version still collect_set'ed the whole bucket into one
    * aggregation-buffer row before exploding; a degenerate bucket OOM'd
    * that task). Both agg and probe consume the SAME
    * repartition(band_key) exchange, so Spark's ReuseExchange computes
    * the minhash pipeline once; the join streams, and a skewed band key
    * is splittable by AQE skew-join — per-task memory is O(1).
    */
  private[graft] def lshStarEdges(sig: org.apache.spark.sql.DataFrame,
      nBands: Int = 4, rowsPerBand: Int = 2): org.apache.spark.sql.DataFrame = {
    val banded = lshBanded(sig, nBands, rowsPerBand).repartition(col("band_key"))
    val minima = banded.groupBy(col("band_key"))
      .agg(min(col("doc_id")).as("u"), count(lit(1)).as("bn"))
      .filter(col("bn") > 1)
    banded.join(minima, "band_key")
      .filter(col("u") =!= col("doc_id"))
      .select(col("u"), col("doc_id").as("v")).distinct()
  }

  /** Context-length packing offsets (d22), skew-safe two-level cumsum.
    *
    * Semantics: concatenate documents in `doc_id` order within each
    * (lang, source) shard; each doc gets its token interval
    * [start_tok, start_tok + n_tokens) and the span of `ctx`-token
    * context bins it lands in — the bookkeeping a packed-pretraining
    * writer needs.
    *
    * SCALE SHAPE (the round-7 verdict's one perf_weak): a naive
    * `Window.partitionBy(lang, source).orderBy(doc_id)` cumsum pushes a
    * dominant shard's ENTIRE token ledger through one sort task —
    * spillable but serial, and English web text can be most of a real
    * corpus. Instead the prefix sum is decomposed over a MONOTONE
    * sub-shard key `sub = floorDiv(doc_id, subWidth)` (monotone in
    * doc_id, so in-shard order is preserved across sub-shards):
    *
    *   1. cumsum WITHIN (lang, source, sub) — bounded window partitions
    *      of ≤ subWidth docs, parallel across sub-shards;
    *   2. per-sub-shard totals → a per-shard running base offset
    *      (a window over ONE ROW per sub-shard — corpus_size/subWidth
    *      rows, trivially small);
    *   3. merge-join the bases back on (lang, source, sub): the doc
    *      stream is already hash-partitioned AND sorted on those keys
    *      by step 1's window, so only the tiny base side shuffles, and
    *      the join is spillable at any scale (no broadcast of a
    *      post-agg side whose static estimate could be garbage-small —
    *      the d20 lesson).
    *
    * Output is IDENTICAL to the single-window formulation (exact
    * integer arithmetic, same oracle SQL); only the plan shape changes.
    * One pinned semantic: packing is defined over docs with non-null
    * (doc_id, lang, source) — a doc without a shard key or position
    * cannot be packed — and the SQL twin filters identically, so the
    * inner base-offset join introduces no cross-engine divergence.
    * One corpus-sized exchange total: step 1's window exchange is
    * reused by step 2's aggregation (same (lang, source, sub) hash
    * partitioning → ReuseExchange, plan-guarded).
    */
  private[graft] def sequencePack(docs: org.apache.spark.sql.DataFrame,
      ctx: Long = 512L, subWidth: Long = 1L << 16): org.apache.spark.sql.DataFrame = {
    val nTok = coalesce(graft.functions.ColFns.tokenCount(col("text")), lit(0L))
    val sub = graft.functions.ColFns.floorDiv(col("doc_id"), subWidth)
    // ONE explicit corpus exchange feeds both the in-sub-shard window
    // and the sub-total aggregation (same ReuseExchange discipline as
    // d21's chunk_md5 stream): with the distribution already satisfied,
    // neither plans its own corpus-sized shuffle.
    // the explicit isNotNull mirrors the join's inferred left-side key
    // filter so both exchange subtrees canonicalize identically
    val base = docs
      .select(col("doc_id"), col("lang"), col("source"), nTok.as("n_tokens"), sub.as("sub"))
      .filter(col("lang").isNotNull && col("source").isNotNull && col("sub").isNotNull)
      .repartition(col("lang"), col("source"), col("sub"))
    val wSub = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source"), col("sub")).orderBy(col("doc_id"))
    val inSub = base.withColumn("cum_sub", sum(col("n_tokens")).over(wSub))
    // one row per (shard, sub-shard); the running-offset window is over
    // these TOTALS, not the docs — serial only in corpus_size/subWidth.
    // Totals are read off the in-sub-shard cumsum (max = last running
    // value) rather than re-aggregated from `base`, so BOTH join sides
    // share the one exchange subtree verbatim — column pruning can't
    // diverge them and break stage reuse.
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source")).orderBy(col("sub"))
    val bases = inSub.groupBy(col("lang"), col("source"), col("sub"))
      .agg(max(col("cum_sub")).as("sub_tot"))
      .withColumn("base_tok", sum(col("sub_tot")).over(wShard) - col("sub_tot"))
      .select(col("lang"), col("source"), col("sub"), col("base_tok"))
    val firstBin = graft.functions.ColFns.floorDiv(col("start_tok"), ctx)
    val lastBin = graft.functions.ColFns.floorDiv(col("end_tok") - 1, ctx)
    // shuffle_hash, NOT merge: both sides already satisfy the (lang,
    // source, sub) distribution from the one explicit exchange, but an
    // SMJ would additionally re-SORT the corpus side by the join keys
    // (the window's doc_id order doesn't count) — a full corpus sort for
    // a join whose build side is one row per sub-shard. The narrow-build
    // SHJ streams the corpus rows unsorted past a tiny per-partition
    // hash table (the d20 build-side doctrine).
    inSub.join(bases.hint("shuffle_hash"), Seq("lang", "source", "sub"))
      .withColumn("end_tok", col("base_tok") + col("cum_sub"))
      .withColumn("start_tok", col("end_tok") - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("start_tok"), firstBin.as("first_bin"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(lastBin - firstBin + 1).as("n_bins"))
  }

  /** 32-token sliding windows, stride 24, per document (d19's shape,
    * shared with the duplicate-chunk statistics d21): chunk k covers
    * tokens [1+24k, min(1+24k+31, n)]. Index explode over the chunk
    * counter (safe generator shape), slice + join per output row; zero
    * shuffles beyond the doc_id spread. */
  private[graft] def chunked(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    chunkedDf(t(s, dir, "documents"))

  /** DataFrame-in variant of [[chunked]] (shared with CurationPipeline). */
  private[graft] def chunkedDf(docs: DataFrame): DataFrame = {
    val base = spreadWords(docs.filter(col("text").isNotNull))
      .withColumn("n", size(col("ws")).cast("long"))
    base
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0L),
          expr("CASE WHEN n > 32 THEN (n - 9) DIV 24 ELSE 0 END"))).as("k"))
      .withColumn("chunk_start", lit(1L) + col("k") * 24L)
      .withColumn("chunk_tokens",
        least(lit(32L), col("n") - col("chunk_start") + 1L))
      .select(col("doc_id"), col("k").as("chunk_id"),
        col("chunk_start"), col("chunk_tokens"),
        md5(array_join(
          slice(col("ws"), col("chunk_start").cast("int"), col("chunk_tokens").cast("int")),
          " ").cast("binary")).as("chunk_md5"))
  }

  /** The corpus block stream of the d30 family: non-overlapping
    * 16-token blocks, (doc_id, k, btok, content). Shared by the batch
    * flagger and the streaming snapshot-Bloom compile so both sides
    * hash the IDENTICAL content strings. */
  private[graft] def spanBlocks(docs: DataFrame): DataFrame =
    spreadWords(docs.filter(col("text").isNotNull && col("doc_id").isNotNull))
      .withColumn("n", size(col("ws")).cast("long"))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0L), expr("(n + 15) DIV 16 - 1"))).as("k"))
      .withColumn("bstart", lit(1L) + col("k") * 16L)
      .withColumn("btok", least(lit(16L), col("n") - col("bstart") + 1L))
      .select(col("doc_id"), col("k"), col("btok"),
        array_join(slice(col("ws"), col("bstart").cast("int"), col("btok").cast("int")), " ")
          .as("content"))

  /** Non-overlapping 16-token blocks with corpus-wide keep flags — the
    * d30 span-dedup body, shared with CurationPipeline's span stage so
    * the pipeline is oracle-pinned by construction. Returns
    * (doc_id, k, btok, content, kept): kept is true for exactly ONE
    * corpus-wide occurrence of each block content (the min (doc_id, k)).
    * See the d30 gate for the shuffle-budget commentary (narrow
    * (md5, doc_id, k) tuples on one shared block-hash exchange,
    * map-side-combinable min(struct) keeper, flags returned through one
    * narrow doc_id exchange). */
  private[graft] def spanBlocksFlagged(docs: DataFrame): DataFrame = {
    // doc_id notnull is filtered EXPLICITLY inside spanBlocks (not left
    // to join-key constraint inference): the flags join infers
    // IsNotNull(doc_id) on its probe subtree only, which
    // de-canonicalizes the keeper and probe subtrees — both the doc_id
    // spread and the block-hash exchange then materialize twice
    // (ExecPlan-verified before the fix: two REPARTITION_BY_COL h
    // exchanges, two corpus spreads).
    val blocks = spanBlocks(docs)
    // narrow (h, dt) stream: ONE block-hash exchange feeds both the
    // keeper aggregate and the probe join (count(dt) ≡ count(1): a
    // struct is never null — the d18/d21 reuse discipline)
    val byH = blocks
      .select(md5(col("content").cast("binary")).as("h"),
        struct(col("doc_id"), col("k")).as("dt"))
      .repartition(col("h"))
    val keeper = byH.groupBy(col("h"))
      .agg(min(col("dt")).as("keep_dt"))
    val flags = byH.join(keeper, Seq("h"))
      .select(col("dt.doc_id").as("doc_id"), col("dt.k").as("k"),
        (col("dt") === col("keep_dt")).as("kept"))
      .repartition(col("doc_id"))
    blocks.join(flags, Seq("doc_id", "k"))
  }

  /** Ordered rebuild of each doc's text from its surviving blocks (the
    * d30 clean_md5 content, as text): docs whose every block was removed
    * disappear (nothing left to train on). Shared with CurationPipeline. */
  private[graft] def spanDedupDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rebuilt = spanBlocksFlagged(docs)
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("_kept_blocks"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("k"), col("content"))))),
            x => x.getField("content")),
          " ").as("_clean"))
      .filter(col("_kept_blocks") > 0)
      .select(col("doc_id"), col("_clean"))
    docs.join(rebuilt, Seq("doc_id"))
      .withColumn("text", col("_clean"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("_clean")
  }

  /** DuckDB twin of [[chunked]] (shared by d19/d21 oracles). */
  private def dChunks = {
    s"""w AS (SELECT doc_id, $dWords AS ws FROM documents WHERE text IS NOT NULL),
       |nn AS (SELECT doc_id, ws, len(ws) AS n FROM w),
       |kk AS (SELECT doc_id, ws, n,
       |    unnest(range(0, CASE WHEN n > 32 THEN 1 + (n - 9) // 24 ELSE 1 END)) AS k
       |  FROM nn),
       |chunks AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |  CAST(1 + k*24 AS BIGINT) AS chunk_start,
       |  CAST(least(32, n - (1 + k*24) + 1) AS BIGINT) AS chunk_tokens,
       |  md5(array_to_string(ws[(1 + k*24):least(1 + k*24 + 31, n)], ' ')) AS chunk_md5
       |FROM kk)""".stripMargin
  }

  // DuckDB-side shared fragments
  private val dNorm = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
  private val dWords = s"str_split($dNorm, ' ')"
  /** DuckDB twin of `cwHashes`: per-shingle (h1, h2) struct list. */
  private val dHh = "list_transform(sh, x -> " +
    "{'h1': CAST('0x'||substring(md5(x),1,8) AS BIGINT), " +
    "'h2': CAST('0x'||substring(md5(x),9,8) AS BIGINT)})"

  /** DuckDB twin of MinHashSig family i: min over the hh column. */
  private def dMinhash(i: Int) =
    s"list_min(list_transform(hh, h -> (h.h1 + $i * h.h2) % 1000000007))"

  /** The 8 signature columns `mh0..mh7` of the oracle's `sig` CTE. */
  private val dSigCols = (0 until 8).map(i => s"  ${dMinhash(i)} AS mh$i").mkString(",\n")

  /** DuckDB twin of [[shingles]]: the 3-gram list over `ws`. */
  private val dShingles =
    "list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])"

  /** DuckDB twin of [[gram5]]'s grams: the word 5-gram list over `ws`,
    * empty under 5 words. */
  private val dGrams5 =
    """CASE WHEN len(ws) >= 5
      |    THEN list_transform(range(1, len(ws)-3), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])
      |    ELSE [] END""".stripMargin

  /** The oracle's MinHash `w` CTE: the `ws` tokens of `documents`. */
  private def dW(where: String = "") = s"w AS (SELECT doc_id, $dWords ws FROM documents$where)"

  /** The oracle's `s` (3-gram shingles `sh` of the `ws` column of
    * `from`) and `h` (per-shingle hashes `hh`, plus `sh` when `keepSh`)
    * CTEs; both carry the `carry` columns. */
  private def dShH(from: String, carry: String = "", keepSh: Boolean = false) =
    s"""s AS (SELECT doc_id,$carry
       |  $dShingles sh
       |  FROM $from),
       |h AS (SELECT doc_id,$carry${if (keepSh) " sh," else ""} $dHh hh FROM s)""".stripMargin

  /** The select of the oracle's `sig` CTE: `mh0..mh7` over `h`. */
  private def dSigSelect(carry: String = "") = s"SELECT doc_id,$carry\n$dSigCols\nFROM h"

  /** The oracle's b4r2 `banded` CTE over `sig`. */
  private val dBanded = (0 until 4)
    .map(b => s"SELECT doc_id, '$b:' || mh${2 * b} || ':' || mh${2 * b + 1} AS band_key FROM sig")
    .mkString("banded AS (\n  ", "\n  UNION ALL ", ")")

  /** The MinHash-LSH prelude of the oracle over `documents` ([[dW]],
    * [[dShH]], `sig`, and [[dBanded]] when `banded`). */
  private def dMinhashWith(keepSh: Boolean, where: String = "", banded: Boolean = true) =
    s"WITH ${dW(where)},\n${dShH("w", keepSh = keepSh)},\nsig AS (${dSigSelect()})" +
      (if (banded) s",\n$dBanded" else "")

  /** The band-bucket self-join of the oracle's candidate pairs. */
  private val dBandJoin =
    "FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id"

  /** The oracle's candidate `pairs` CTE (`where` restricts the pairs). */
  private def dPairs(where: String = "") =
    s"pairs AS (\n  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b\n  $dBandJoin$where)"

  /** The oracle's `pairs` → undirected `edges` CTEs feeding [[CcSql]]. */
  private val dCcEdges =
    s"""pairs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  $dBandJoin),
       |edges AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)""".stripMargin

  /** The oracle's per-doc distinct shingle sets for exact verification. */
  private val dSets = "sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM h)"

  /** DuckDB twin of [[surprisalDf]] as a CTE chain ending in `scored`
    * (shared by the d25 gate and d27's importance sampler). */
  private lazy val dSurprisal =
    s"""toks AS (SELECT doc_id, unnest($dWords) AS term FROM documents),
       |tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_total FROM tok),
       |scored AS (SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(length(bin(n.n_total)) - length(bin(f.c))) AS BIGINT) AS surprisal_bits,
       |  CAST(${Sim.halfAwayDivSql("SUM(length(bin(n.n_total)) - length(bin(f.c))) * 1000", "COUNT(*)")} AS BIGINT) AS milli_bits_per_token
       |FROM tok JOIN freq f USING (term), n
       |GROUP BY doc_id)""".stripMargin

  val qs: Seq[Q] = Seq(

    Q("d01_token_count",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_raw"),
        col("n_chars")),
      Some(s"""SELECT doc_id,
              |  CAST(CASE WHEN length($dNorm) = 0 THEN 0
              |    ELSE length($dNorm) - length(replace($dNorm, ' ', '')) + 1 END AS BIGINT) AS n_tokens,
              |  CAST(length(text) AS BIGINT) AS n_chars_raw, n_chars
              |FROM documents""".stripMargin),
      "whitespace token counting (north-star: text analysis)"),

    Q("d02_quality_score",
      // ONE codegen'd byte pass per row (MarkerStats) — the builtin
      // formulation paid a regex collapse + split allocation plus an
      // interpreted higher-order filter for the stopword count (2.5x
      // the twin at sf1). Same arithmetic on the struct fields, so the
      // doubles are bit-identical; equivalence with the old chain on
      // adversarial unicode is pinned by TextStatsExprsSpec.
      (s, dir) => {
        val ms = graft.functions.MarkerStats.markerStats(
          col("text"), Seq(Seq("the", "a", "of", "and")))
        val nTok = col("ms").getField("n_tokens")
        val nChars = col("ms").getField("n_chars_norm")
        t(s, dir, "documents").select(col("doc_id"), ms.as("ms")).select(
          col("doc_id"),
          nTok.as("n_tokens"),
          nChars.as("n_chars_norm"),
          ((nChars - (nTok - 1)).cast("double") / nTok.cast("double")).as("avg_token_len"),
          (col("ms").getField("g0").cast("double") / nTok.cast("double")).as("stopword_ratio"))
      },
      Some(s"""SELECT doc_id,
              |  CAST(len($dWords) AS BIGINT) AS n_tokens,
              |  CAST(length($dNorm) AS BIGINT) AS n_chars_norm,
              |  CAST(length($dNorm) - (len($dWords) - 1) AS DOUBLE) / CAST(len($dWords) AS DOUBLE) AS avg_token_len,
              |  CAST(len(list_filter($dWords, x -> x IN ('the','a','of','and'))) AS DOUBLE)
              |    / CAST(len($dWords) AS DOUBLE) AS stopword_ratio
              |FROM documents""".stripMargin),
      "quality scoring: length/stopword ratios (north-star: text analysis)"),

    Q("d03_lang_id",
      // ONE codegen'd byte pass per row (MarkerStats, three marker
      // groups at once) — the builtin formulation ran THREE interpreted
      // higher-order filters over the split array (2.1x the twin at
      // sf1); equivalence is pinned by TextStatsExprsSpec.
      (s, dir) => {
        val ms = graft.functions.MarkerStats.markerStats(col("text"),
          Seq(Seq("the", "a"), Seq("data", "spark", "stream"), Seq("join", "merge", "hash")))
        val s1 = col("ms").getField("g0"); val s2 = col("ms").getField("g1")
        val s3 = col("ms").getField("g2")
        t(s, dir, "documents").select(col("doc_id"), ms.as("ms")).select(
          col("doc_id"), s1.as("score_common"), s2.as("score_data"), s3.as("score_db"),
          when(s1 >= s2 && s1 >= s3, "common")
            .when(s2 >= s3, "data").otherwise("db").as("pred_class"))
      },
      Some(s"""SELECT doc_id,
              |  CAST(len(list_filter($dWords, x -> x IN ('the','a'))) AS BIGINT) AS score_common,
              |  CAST(len(list_filter($dWords, x -> x IN ('data','spark','stream'))) AS BIGINT) AS score_data,
              |  CAST(len(list_filter($dWords, x -> x IN ('join','merge','hash'))) AS BIGINT) AS score_db,
              |  CASE
              |    WHEN len(list_filter($dWords, x -> x IN ('the','a'))) >= len(list_filter($dWords, x -> x IN ('data','spark','stream')))
              |     AND len(list_filter($dWords, x -> x IN ('the','a'))) >= len(list_filter($dWords, x -> x IN ('join','merge','hash')))
              |    THEN 'common'
              |    WHEN len(list_filter($dWords, x -> x IN ('data','spark','stream'))) >= len(list_filter($dWords, x -> x IN ('join','merge','hash')))
              |    THEN 'data' ELSE 'db' END AS pred_class
              |FROM documents""".stripMargin),
      "n-gram marker-count language/dialect ID (north-star: text analysis)"),

    Q("d04_fingerprint",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        md5(lower(normWs(col("text"))).cast("binary")).as("fp")),
      Some(s"SELECT doc_id, md5(lower($dNorm)) AS fp FROM documents"),
      "document fingerprint via normalized-text hash (north-star)"),

    Q("d09_dedup_exact",
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
             |  COUNT(*) AS n_copies
             |FROM documents GROUP BY md5(text)""".stripMargin),
      "exact dedup: hash-group, keep min id (north-star: dedup)"),

    // Pairwise token-set Jaccard on consecutive doc ids (set sizes only —
    // distinct-array ORDER differs across engines, sizes don't).
    Q("d05_jaccard_pairs",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val a = d.select(col("doc_id").as("doc_id_a"), tokenSet(col("text")).as("ta"))
        val b = d.select((col("doc_id") - 1).as("doc_id_a"),
          col("doc_id").as("doc_id_b"), tokenSet(col("text")).as("tb"))
        val i = size(array_intersect(col("ta"), col("tb"))).cast("double")
        val u = (size(col("ta")) + size(col("tb"))).cast("double") - i
        a.join(b, Seq("doc_id_a"))
          .select(col("doc_id_a"), col("doc_id_b"), (i / u).as("jaccard"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, list_distinct($dWords) ts FROM documents)
              |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
              |  CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
              |  (CAST(len(a.ts) + len(b.ts) AS DOUBLE) - CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)) AS jaccard
              |FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1""".stripMargin),
      "n-gram Jaccard similarity (north-star: near-dup)"),

    // MinHash signature (8 hash families over word 3-gram shingles).
    Q("d06_minhash_sig",
      (s, dir) => {
        val cols = col("doc_id") +: (0 until 8).map(i => element_at(col("mh"), i + 1).as(s"mh$i"))
        withShingles(s, dir).select(cols: _*)
      },
      Some {
        s"WITH ${dW()},\n${dShH("w")}\n${dSigSelect()}"
      },
      "MinHash signatures over 3-gram shingles (north-star: dedup)"),

    // LSH banding: 4 bands × 2 rows; candidate pairs share ≥1 band key.
    // Scale shape: ONE pass computes signatures, ONE shuffle groups by
    // band key, pairs are generated inside each (small, CAPPED) bucket —
    // no self-join, so the signature pipeline is never recomputed and a
    // hot bucket can't quadratically explode a join (SNIPPETS: the
    // standard minhash-LSH band→bucket→pairs layout). See
    // `lshCandidatePairs` for the degenerate-bucket cap.
    Q("d07_lsh_pairs",
      (s, dir) => lshCandidatePairs(withShingles(s, dir)),
      Some {
        s"""${dMinhashWith(keepSh = false)}
           |SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
           |$dBandJoin""".stripMargin
      },
      "MinHash-LSH band-bucket candidate pairs (north-star: dedup)"),

    // Candidate VERIFICATION — the stage that completes the MinHash-LSH
    // near-dup pipeline: exact shingle-set Jaccard on each candidate
    // pair, with the ≥0.5 verdict. Shuffle shape: the (small) pair
    // table is joined twice against the per-doc shingle sets — each
    // join shuffles only pairs + the matching doc rows on one doc-id
    // key; the corpus-sized shingle build happens once per side off the
    // shared doc_id exchange. At 100 TB the candidate table is ~corpus
    // ×duplication-rate, far below all-pairs — exactly why LSH
    // candidates + exact verify beats either extreme.
    Q("d20_neardup_verified",
      // Shingle sets, signatures and verification joins are the shared
      // bodies (see shingleSets and verifyJoin for the plan disciplines).
      (s, dir) => {
        val sets = shingleSets(t(s, dir, "documents"))
        verifyJoin(lshCandidatePairs(setSignatures(sets)), sets)
          .select(col("doc_id_a"), col("doc_id_b"),
            round(pairJaccard, 4).as("jaccard"),
            (pairJaccard >= 0.5).as("is_dup"))
      },
      Some {
        s"""${dMinhashWith(keepSh = true)},
           |${dPairs()},
           |$dSets
           |SELECT p.doc_id_a, p.doc_id_b,
           |  ROUND(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
           |    (CAST(len(sa.ss) + len(sb.ss) AS DOUBLE) - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)), 4) AS jaccard,
           |  CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
           |    (CAST(len(sa.ss) + len(sb.ss) AS DOUBLE) - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)) >= 0.5 AS is_dup
           |FROM pairs p
           |JOIN sets sa ON p.doc_id_a = sa.doc_id
           |JOIN sets sb ON p.doc_id_b = sb.doc_id""".stripMargin
      },
      "LSH candidate verification: exact shingle Jaccard + threshold verdict (north-star: dedup)"),

    // Dedup clustering: LSH candidate pairs → connected components →
    // (doc_id, cluster_rep). The full dedup pipeline end-to-end:
    // signature pass + band shuffle + O(diameter) label-propagation
    // rounds. Oracle: recursive-CTE transitive closure (small graphs).
    Q("d12_dedup_clusters",
      (s, dir) => {
        // star edges, not all-pairs: components are identical (every
        // bucket member connects through the bucket min) and a
        // degenerate bucket costs O(n) edges instead of O(n²) — no cap
        // needed, no connectivity lost. See `lshStarEdges`.
        val comps = nearDupClusters(withShingles(s, dir))
        t(s, dir, "documents").select(col("doc_id"))
          .join(comps, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
      },
      Some {
        // bounded-iteration CC twin (CcSql): the recursive-CTE closure
        // materialized O(Σ component²) reachable pairs and DNF'd the
        // sf10 oracle cap; the unrolled pointer-jumping levels are
        // linear per level and mirror the Spark operator round-for-round
        val (cc, lk) = CcSql.unrolled()
        s"""${dMinhashWith(keepSh = false)},
           |$dCcEdges,
           |$cc
           |SELECT d.doc_id, COALESCE($lk.rep, d.doc_id) AS cluster_rep
           |FROM documents d LEFT JOIN $lk ON d.doc_id = $lk.id""".stripMargin
      },
      "dedup groups: LSH pairs -> connected components (north-star: dedup)"),

    // FLAGSHIP COMPOSITE: the canonical LLM corpus-cleanup pipeline in
    // one query — language gate → minimum-length quality gate → exact
    // dedup (keep min doc_id per byte-identical text) → benchmark
    // decontamination → near-dup dedup (MinHash-LSH star edges →
    // connected components, keep each cluster's min id). Stage order is
    // the 100 TB order: the narrow, codegen'd filters run first so every
    // later shuffle moves only survivors; exact dedup ships only
    // (md5, doc_id) fingerprints (see [[exactDedup]]); the LSH band
    // shuffle and CC run on the doubly-deduped remainder. Stages 1-3 are
    // CurationPipeline's own bodies. Docs with null text fall out of
    // the gate naturally in both engines (null comparisons are never
    // TRUE).
    Q("d13_corpus_clean",
      (s, dir) => corpusCleanDf(t(s, dir, "documents")),
      Some {
        // same bounded-iteration CC twin as d12 (CcSql) for the final
        // near-dup stage — the closure DNF'd sf10's cap on this family
        val (cc, lk) = CcSql.unrolled()
        s"""WITH w AS (SELECT doc_id, text, $dWords ws FROM documents),
           |gate AS (
           |  SELECT doc_id, text, ws, CAST(len(ws) AS BIGINT) AS n_tokens FROM w
           |  WHERE len(list_filter(ws, x -> x IN ('the','a'))) >= len(list_filter(ws, x -> x IN ('data','spark','stream')))
           |    AND len(list_filter(ws, x -> x IN ('the','a'))) >= len(list_filter(ws, x -> x IN ('join','merge','hash')))
           |    AND len(ws) >= 10
           |    AND (1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)) <= 0.6),
           |exact AS (
           |  SELECT doc_id, ws, n_tokens FROM (
           |    SELECT doc_id, ws, n_tokens,
           |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
           |    FROM gate) WHERE doc_id = keep_id),
           |g AS (SELECT doc_id, $dGrams5 AS g FROM w),
           |bench AS (SELECT DISTINCT unnest(g) AS gram FROM g WHERE doc_id % 20 = 0),
           |contam AS (SELECT DISTINCT t.doc_id FROM (
           |    SELECT e.doc_id, unnest(g.g) AS gram FROM exact e JOIN g USING (doc_id)
           |    WHERE e.doc_id % 20 <> 0) t
           |  JOIN bench b ON t.gram = b.gram),
           |clean AS (SELECT doc_id, ws, n_tokens FROM exact
           |  WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)),
           |${dShH("clean", " n_tokens,")},
           |sig AS (${dSigSelect(" n_tokens,")}),
           |$dBanded,
           |$dCcEdges,
           |$cc
           |SELECT sig.doc_id, sig.n_tokens
           |FROM sig LEFT JOIN $lk ON sig.doc_id = $lk.id
           |WHERE $lk.rep IS NULL OR $lk.rep = sig.doc_id""".stripMargin
      },
      "corpus cleanup end-to-end: lang+quality+repetition gate -> exact dedup -> decontam -> LSH near-dup dedup (north-star flagship)"),

    // BPE-ish regex tokenization: letter runs / digit runs / punct runs —
    // the dialect-portable core of a GPT-style pre-tokenizer (north-star:
    // token counting). Java and RE2 agree on this pattern class.
    Q("d10_bpe_tokens",
      // ONE codegen'd byte pass per row (BpeRunStats: maximal same-class
      // runs ≡ the alternation's match sequence) — the builtin paid
      // three regexp_extract_all scans, each materializing a match array
      // only to take its size (2.05x the twin at sf1); equivalence is
      // pinned by TextStatsExprsSpec.
      (s, dir) => {
        val bs = graft.functions.BpeRunStats.bpeRunStats(col("text"))
        t(s, dir, "documents").select(col("doc_id"), bs.as("bs")).select(
          col("doc_id"),
          col("bs").getField("n_bpe").as("n_bpe"),
          col("bs").getField("n_alpha").as("n_alpha"),
          col("bs").getField("n_num").as("n_num"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')) AS BIGINT) AS n_bpe,
             |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_alpha,
             |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num
             |FROM documents""".stripMargin),
      "BPE-ish regex token counting (north-star: text analysis)"),

    // Rolling polynomial hash over the token stream — order-sensitive
    // document fingerprint (north-star). Exact integer fold, identical
    // in both engines; the fold input is a bound column (PERF note above).
    Q("d11_rolling_hash",
      // ONE codegen'd byte pass per row (RollingHash) — the builtin
      // formulation paid a regex collapse + split allocation, a
      // transform evaluating three builtins per token, and an
      // interpreted aggregate HOF (2.2x the twin at sf1). Null/blank
      // text → 0, matching the oracle's list_prepend(0, NULL)
      // convention (edge-case battery finding); byte-for-byte
      // equivalence with the old chain on adversarial unicode is
      // pinned by RollingHashExprsSpec.
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        graft.functions.RollingHashExprs.rollingHash(col("text")).as("rhash")),
      Some(s"""SELECT doc_id,
              |  list_reduce(
              |    list_prepend(0::BIGINT, list_transform($dWords,
              |      x -> (ascii(x) * 256 + ascii(substring(x, -1, 1)) * 16 + length(x))::BIGINT)),
              |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
              |FROM documents""".stripMargin),
      "rolling-hash document fingerprint (north-star: fingerprinting)"),

    // SimHash: 16 sign-sum dimensions from md5 hex chars of distinct tokens.
    Q("d08_simhash",
      // The whole sketch is a per-row MAP via the codegen'd SimHash16
      // expression (one md5 per token, 16 vote counters in one loop) —
      // no explode, no per-doc groupBy shuffle. The isNotNull filter
      // mirrors the builtin explode, which emitted no row for a doc
      // with no tokens; equivalence incl. that case is spec-checked in
      // SimHashSpec. At 100 TB this shape is scan-parallel with zero
      // shuffle, vs. a token-explode shuffle ~20x the corpus size.
      (s, dir) => t(s, dir, "documents")
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          graft.functions.SimHashExpr.simHash16(tokenSet(col("text"))).as("simhash"))
        .filter(col("simhash").isNotNull),
      Some {
        val hexIn = hexHigh.map(h => s"'$h'").mkString(",")
        val sums = (0 until 16).map(j =>
          s"  SUM(CASE WHEN substring(m, ${j + 1}, 1) IN ($hexIn) THEN 1 ELSE -1 END) AS s$j").mkString(",\n")
        val code = (0 until 16).map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_distinct($dWords)) AS tok FROM documents),
           |h AS (SELECT doc_id, md5(tok) AS m FROM toks),
           |s AS (SELECT doc_id,
           |$sums
           |FROM h GROUP BY doc_id)
           |SELECT doc_id, CAST($code AS BIGINT) AS simhash FROM s""".stripMargin
      },
      "SimHash 16-bit signatures (north-star: near-dup)"),

    // Gopher-style repetition filter (Rae et al. 2021 §A1.1): duplicate-
    // token fraction + most-frequent-bigram fraction per document. Both
    // stats are PER-ROW higher-order-function folds over bound columns —
    // zero shuffles, scan-parallel at any scale (vs. the naive
    // explode-bigrams → groupBy(doc, bigram) → window-max shape, which
    // shuffles ~n_tokens× the corpus twice). The O(|distinct bg|·|bg|)
    // per-row mode scan is bounded by document length, not corpus size.
    Q("d14_repetition",
      (s, dir) => {
        val base = spreadWords(t(s, dir, "documents"))
        val nTok = size(col("ws")).cast("long")
        // null/short ws → 0 bigrams (the when's otherwise catches null)
        val nBg = when(size(col("ws")) >= 2, size(col("ws")) - 1).otherwise(lit(0))
        // per-row bigram mode count via the codegen'd one-pass expression
        // — the builtin twin (array_max over filter-per-distinct-bigram)
        // is O(|bg|²) interpreted HOF evals per row and made d14 the
        // heaviest query in the battery; equivalence is spec-checked in
        // RepetitionExprsSpec.
        val topBg = graft.functions.RepetitionExprs.topAdjacentPairCount(col("ws"))
        base.select(
          col("doc_id"),
          nTok.as("n_tokens"),
          when(nTok === 0, lit(null).cast("double"))
            .otherwise(lit(1.0) - size(array_distinct(col("ws"))).cast("double") / nTok.cast("double"))
            .as("dup_token_frac"),
          when(nBg === 0, lit(0L)).otherwise(topBg).as("top_bigram_n"),
          when(nBg === 0, lit(null).cast("double"))
            .otherwise(topBg.cast("double") / nBg.cast("double")).as("top_bigram_frac"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $dWords AS ws FROM documents),
              |b AS (SELECT doc_id, ws,
              |  CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
              |       ELSE [] END AS bg FROM w)
              |SELECT doc_id,
              |  CAST(len(ws) AS BIGINT) AS n_tokens,
              |  CASE WHEN len(ws) = 0 THEN NULL
              |    ELSE 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE) END AS dup_token_frac,
              |  CAST(CASE WHEN len(bg) = 0 THEN 0
              |    ELSE list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) END AS BIGINT) AS top_bigram_n,
              |  CASE WHEN len(bg) = 0 THEN NULL
              |    ELSE CAST(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / CAST(len(bg) AS DOUBLE) END AS top_bigram_frac
              |FROM b""".stripMargin),
      "Gopher-style repetition filter: dup-token + top-bigram fractions (north-star: quality)"),

    // Benchmark decontamination: count each training doc's distinct word
    // 5-grams that also appear in a held-out benchmark set (here: every
    // 20th doc stands in for the benchmark suite). The benchmark n-gram
    // set is explicitly broadcast — real eval suites are MBs, so the big
    // exploded training side never shuffles for the join; the per-doc
    // count then reuses the repartition(doc_id) exchange, so the whole
    // query costs ONE shuffle of the (small) benchmark side at any scale.
    Q("d15_decontam",
      (s, dir) => {
        // 5-grams via gram5's INDEX explode; `outer` keeps short/null-
        // text docs as a null-gram marker row so they surface with
        // n_grams = 0.
        val grams = gram5(spreadWords(t(s, dir, "documents")), outer = true)
          // per-doc gram dedupe. HashPartitioning(doc_id) satisfies the
          // ClusteredDistribution of BOTH this distinct and the groupBys
          // below, so the big exploded side never shuffles again.
          .distinct()
        val bench = grams.filter(col("doc_id") % 20 === 0 && col("gram").isNotNull)
          .select(col("gram")).distinct()
        // ONE pass over the target grams: left-join the broadcast
        // benchmark set (a null-gram marker row joins nothing and keeps
        // short docs alive), then count grams and hits in the same
        // aggregation — a separate n_grams/hits branch pair would
        // recompute the whole gram pipeline once per branch (there is no
        // exchange boundary after the doc_id-partitioned distinct for
        // ReuseExchange to cache).
        grams.filter(col("doc_id") % 20 =!= 0)
          .join(broadcast(bench.withColumn("hit", lit(1L))), Seq("gram"), "left")
          .groupBy(col("doc_id"))
          .agg(
            sum(when(col("gram").isNotNull, 1L).otherwise(0L)).as("n_grams"),
            coalesce(sum(col("hit")), lit(0L)).as("contaminated"))
          .select(col("doc_id"), col("n_grams"), col("contaminated"),
            when(col("n_grams") === 0, lit(null).cast("double"))
              .otherwise(col("contaminated").cast("double") / col("n_grams").cast("double"))
              .as("contam_frac"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $dWords AS ws FROM documents),
              |g AS (SELECT doc_id, list_distinct($dGrams5) AS g FROM w),
              |bench AS (SELECT DISTINCT unnest(g) AS gram FROM g WHERE doc_id % 20 = 0),
              |tgt AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams FROM g WHERE doc_id % 20 <> 0),
              |hits AS (SELECT t.doc_id, COUNT(*) AS c
              |  FROM (SELECT doc_id, unnest(g) AS gram FROM g WHERE doc_id % 20 <> 0) t
              |  JOIN bench b ON t.gram = b.gram GROUP BY t.doc_id)
              |SELECT tgt.doc_id, tgt.n_grams,
              |  CAST(COALESCE(hits.c, 0) AS BIGINT) AS contaminated,
              |  CASE WHEN tgt.n_grams = 0 THEN NULL
              |    ELSE CAST(COALESCE(hits.c, 0) AS DOUBLE) / CAST(tgt.n_grams AS DOUBLE) END AS contam_frac
              |FROM tgt LEFT JOIN hits ON tgt.doc_id = hits.doc_id""".stripMargin),
      "benchmark decontamination: 5-gram overlap vs held-out set (north-star: quality)"),

    // Deterministic per-stratum quota sampling: rank docs inside each
    // (lang, source) stratum by a salted md5 of the doc id and keep the
    // first K — the reproducible "N docs per domain" curation step of a
    // training-data pipeline. One shuffle on the stratum key; Spark 4's
    // WindowGroupLimit pushes the rank<=K cut below the full sort (each
    // partition keeps a K-heap), so a skewed billion-doc stratum never
    // materializes a total order. For RATE-based (not quota) sampling
    // prefer the shuffle-free filter `hash < rate * 2^64` on the same
    // salted hash.
    Q("d16_stratified_sample",
      (s, dir) => {
        val h = md5(concat(lit("strat:"), col("doc_id").cast("string")).cast("binary"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("source")).orderBy(h.asc, col("doc_id").asc)
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            row_number().over(w).cast("long").as("rk"))
          .filter(col("rk") <= 3)
      },
      Some("""SELECT doc_id, lang, source, rk FROM (
             |  SELECT doc_id, lang, source,
             |    CAST(row_number() OVER (PARTITION BY lang, source
             |      ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
             |  FROM documents) WHERE rk <= 3""".stripMargin),
      "deterministic stratified quota sample per (lang, source) (north-star: curation)"),

    // PII redaction: replace email + phone patterns with placeholder
    // tokens and count what was redacted. The synthetic corpus has no
    // PII, so the query first APPENDS a deterministic contact string per
    // doc — the redaction regexes then have real work to do and the
    // counts are oracle-checkable. Patterns stay in the Java∩RE2 common
    // class (char classes, +, {m,}) so both engines match identically.
    // Pure per-row regex map: zero shuffles, scan-parallel at 100 TB.
    Q("d17_pii_redact",
      (s, dir) => {
        // Java-regex scan discipline (the engine's NFA is the 100 TB cost
        // here; DuckDB's RE2 is immune to both problems):
        //  1. Possessive local-part `[...]++@`: '@' is not in the class,
        //     so no backtracked shorter run can ever match — possessive
        //     is semantically identical and skips the backtrack chain.
        //  2. Run-start anchor `(?<![class])`: in plain lowercase text
        //     nearly EVERY char is in the local-part class, so the
        //     matcher otherwise re-attempts at every position inside a
        //     failed run, each attempt re-consuming the run's tail —
        //     O(run²) per run. With the possessive local part a leftmost
        //     match can only start at a run start (a mid-run start is
        //     preceded by class chars, and the run-start attempt already
        //     consumed them), so the lookbehind rejects mid-run attempts
        //     in O(1) without changing the match set. Measured 2.08 s →
        //     0.56 s at sf1 (50 k docs) for the 4-pass pipeline.
        // The DOMAIN run stays greedy: its class contains '.', so the
        // final `\.` genuinely needs backtracking. `{6,}+` ends the
        // phone pattern (nothing after it to re-satisfy); NO lookbehind
        // on phones — `1+2345678`'s leftmost match starts at '+' which
        // IS preceded by a digit. The DuckDB twin keeps the plain-greedy
        // spelling (RE2 has no possessive/lookbehind syntax and no
        // backtracking to need either); the oracle compares RESULTS.
        val withPii = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or +1-555-000"), col("doc_id").cast("string"))
        // ONE java.util.regex pass per pattern producing count AND
        // replacement together (RedactStats) — the builtin chain costs
        // four passes (extract_all + replace per pattern). Same engine,
        // same patterns ⇒ identical match semantics; RedactSpec pins
        // equality against the 4-pass formulation property-wise.
        val r = graft.functions.RedactExprs.redactStats(withPii, piiEmailRe, piiPhoneRe)
        t(s, dir, "documents").select(
          col("doc_id"),
          r.getField("n_emails").as("n_emails"),
          r.getField("n_phones").as("n_phones"),
          md5(r.getField("redacted").cast("binary")).as("redacted_fp"),
          length(r.getField("redacted")).cast("long").as("redacted_len"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-000' || CAST(doc_id AS VARCHAR) AS t
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\+?[0-9][0-9-]{6,}')) AS BIGINT) AS n_phones,
             |  md5(regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\+?[0-9][0-9-]{6,}', '<PHONE>', 'g')) AS redacted_fp,
             |  CAST(length(regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\+?[0-9][0-9-]{6,}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
             |FROM p""".stripMargin),
      "PII redaction: email/phone regex replace + redaction counts (north-star: cleaning)"),

    // TF-IDF top terms per document. Shuffle shape: ONE doc_id spread +
    // ONE term-keyed shuffle for the document-frequency table; the df
    // table is then broadcast back (post min-df pruning a real vocab fits
    // an executor; if it doesn't, AQE falls back to a shuffled join by
    // dropping the hint), so tf, the tf-idf score, and the per-doc top-3
    // window all stay on the doc_id partitioning — WindowGroupLimit
    // bounds the rank cut. explode(split(...)) is the SAFE generator
    // shape (codegen'd array, measured no re-eval tax — BENCH_NOTES
    // explode discipline).
    Q("d18_tfidf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // ONE corpus-volume exchange in the whole query — the doc_id
        // text spread — and everything else stays on it: the (doc,term)
        // aggregate inherits the spread's partitioning (clustering on a
        // prefix, no new exchange), the df branch re-aggregates by term
        // map-side-partial into a NARROW (term, df) exchange that
        // broadcasts back, and because the probe side never leaves
        // doc_id partitioning the per-doc top-3 window sorts IN PLACE.
        // The token explode + aggregate run once per consumer subtree
        // off the reused text exchange (ExecPlan-verified ReuseExchange)
        // — the d20 doctrine: recompute a linear per-doc pass rather
        // than ship a corpus-sized computed exchange. (The earlier
        // term-keyed struct pack computed the aggregate once but paid
        // TWO further corpus-volume exchanges: the (term, dt) pack and
        // the (doc,term,tfidf,…) shuffle back to doc_id for the window
        // — measured equal at sf0.1, and at cluster scale the shuffle
        // bytes, not the scan-parallel tokenize, are the bottleneck.)
        // groupBy+broadcast-join for df (not a count window over term)
        // deliberately: partial aggregation collapses a stopword's rows
        // map-side, where a window would stream the whole term group
        // through one task at 100 TB.
        val tf2 = docs.repartition(col("doc_id"))
          .select(col("doc_id"), explode(words(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf2.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
        tf2.join(broadcast(df), Seq("term"))
          .crossJoin(broadcast(n))
          .withColumn("tfidf", round(col("tf") *
            log(col("n").cast("double") / col("df").cast("double")), 4))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("term"), col("tfidf"), col("rk"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($dWords) AS term FROM documents),
              |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
              |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
              |n AS (SELECT COUNT(*) AS n FROM documents),
              |scored AS (SELECT tf.doc_id, tf.term,
              |  ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)), 4) AS tfidf
              |  FROM tf JOIN df USING (term), n)
              |SELECT doc_id, term, tfidf, rk FROM (
              |  SELECT doc_id, term, tfidf,
              |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rk
              |  FROM scored) WHERE rk <= 3""".stripMargin),
      "TF-IDF top-3 terms per doc: corpus df + idf weighting (north-star: text analysis)"),

    // Context-window chunking: split each document into 32-token sliding
    // windows with stride 24 (25% overlap) — the RAG / context-length
    // prep step of an LLM data pipeline (real pipelines count BPE
    // tokens; the windowing shape is identical). Chunk k covers tokens
    // [1+24k, min(1+24k+31, n)]; every token lands in some chunk and
    // tail chunks may be short. Index explode over the chunk counter
    // (safe generator shape), slice + join per output row; zero
    // shuffles beyond the doc_id spread — scan-parallel at 100 TB.
    Q("d19_chunking",
      (s, dir) => chunked(s, dir),
      Some(s"""WITH $dChunks
              |SELECT doc_id, chunk_id, chunk_start, chunk_tokens, chunk_md5 FROM chunks""".stripMargin),
      "context-window chunking: 32-token windows, stride 24 (north-star: LLM data prep)"),

    // Corpus-wide duplicate-chunk statistics: for each doc, the fraction
    // of its chunks whose content occurs anywhere else in the corpus —
    // the chunk-level dedup metric (FineWeb-style duplicate-paragraph
    // fraction, on d19's windows). Shuffle shape: the global occurrence
    // count per chunk_md5 is a WINDOW count over the md5 partition —
    // the chunk stream crosses one narrow (doc_id, chunk_md5) exchange
    // and every row leaves it already annotated with n_occ, then one
    // doc_id shuffle for the per-doc rollup. The previous freq-agg +
    // probe-join consumed the same exchange twice (agg wave, then join
    // wave) — strictly one more stage wave and a corpus-sized join for
    // the same answer; at a 0.29 s twin that dispatch put d21 at
    // 2.3-2.4x, and at 100 TB the window is one sort instead of
    // hash-agg + shuffle-hash-join over an identical exchange.
    Q("d21_dup_chunks",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("chunk_md5"))
        chunked(s, dir)
          .select(col("doc_id"), col("chunk_md5"))
          .withColumn("n_occ", count(lit(1)).over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("dup_chunks"))
          .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
            (col("dup_chunks").cast("double") / col("n_chunks").cast("double"))
              .as("dup_chunk_frac"))
      },
      Some(s"""WITH $dChunks,
              |freq AS (SELECT chunk_md5, COUNT(*) AS n_occ FROM chunks GROUP BY chunk_md5)
              |SELECT c.doc_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
              |  CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
              |  CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_chunk_frac
              |FROM chunks c JOIN freq f USING (chunk_md5)
              |GROUP BY c.doc_id""".stripMargin),
      "corpus-wide duplicate-chunk fraction per doc (north-star: dedup metrics)"),

    // Training-sample packing (north-star: tokenize-and-pack): documents
    // are concatenated in doc_id order within each (lang, source) shard
    // and cut at fixed 512-token context boundaries — each doc gets its
    // token interval [start_tok, start_tok + n_tokens) and the span of
    // context bins it lands in, which is exactly the bookkeeping a
    // packed-pretraining writer needs (docs straddle bin boundaries by
    // design; the cut is at the context length, not the doc edge).
    // Two-level sub-sharded prefix sums (see [[sequencePack]]): no
    // single (lang, source) shard — however dominant — serializes
    // through one sort task. All integer arithmetic → exact at any
    // scale.
    Q("d22_sequence_pack",
      (s, dir) => sequencePack(t(s, dir, "documents")),
      Some(s"""WITH toks AS (SELECT doc_id, lang, source,
              |  COALESCE(CAST(CASE WHEN length($dNorm) = 0 THEN 0
              |    ELSE length($dNorm) - length(replace($dNorm, ' ', '')) + 1 END AS BIGINT), 0) AS n_tokens
              |  FROM documents
              |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
              |cum AS (SELECT doc_id, lang, source, n_tokens,
              |  SUM(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id) AS end_tok
              |  FROM toks)
              |SELECT doc_id, lang, source, n_tokens,
              |  CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
              |  CAST((end_tok - n_tokens) // 512 AS BIGINT) AS first_bin,
              |  CAST(CASE WHEN n_tokens = 0 THEN 0
              |    ELSE (end_tok - 1) // 512 - (end_tok - n_tokens) // 512 + 1 END AS BIGINT) AS n_bins
              |FROM cum""".stripMargin),
      "context-length packing offsets: per-shard token intervals + bin spans (north-star)"),

    // Seeded hash-Bernoulli corpus sampling at an exact rate: keep a doc
    // iff md5(seed || doc_id) < the hex-fraction threshold — 0.1 of the
    // 128-bit hash space is the 32-char hex string "1999…9" (0x0.1999… =
    // 1/10), and lowercase-hex STRING comparison is numeric comparison
    // of the hash, identical in both engines with no integer parsing.
    // The d16 quota sampler needs a per-stratum window; THIS is the
    // shuffle-free path — a pure scan-parallel filter (plan-guarded
    // zero exchanges), deterministic under any partitioning, mergeable
    // across corpus shards by construction. The standard "sample 10% of
    // 100 TB reproducibly" primitive.
    Q("d23_rate_sample",
      (s, dir) => rateSampleDf(t(s, dir, "documents"),
          "19999999999999999999999999999999")
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE md5('samp:' || CAST(doc_id AS VARCHAR)) <
             |  '19999999999999999999999999999999'""".stripMargin),
      "seeded hash-Bernoulli rate sample: shuffle-free, exactly reproducible (north-star: curation)"),

    // Heavy hitters via count-min sketch — the term-frequency member of
    // the mergeable-sketch family (HLL q38, GK quantiles q41, Bloom
    // decontam): at 100 TB the corpus term distribution is ONE
    // scan-parallel pass building w×d counter grids that merge
    // associatively — no shuffle of raw terms, a few hundred KB to the
    // driver. The exact per-term counts here exist for the GATE (the
    // q38/q41 envelope pattern: the estimate is reduced to its
    // one-sided-error verdict, est ≥ exact ∧ est ≤ exact + ⌈ε·N⌉, which
    // the DuckDB twin asserts as all-true alongside the exact values);
    // a deployment reads the sketch alone. Fixed seed ⇒ deterministic.
    Q("d24_heavy_hitters",
      (s, dir) => {
        val eps = 0.0005
        // ONE corpus token pass into the vocab rollup, checkpointed:
        // the sketch build (weighted CMS over (term, cnt) — the
        // counters are sums, so the bytes are IDENTICAL to the builtin
        // over raw occurrences, CmsWeightedSpec-pinned), the item
        // total, and the exact top-10 gate all read the leaf. The
        // previous shape ran the token explode TWICE (once eagerly for
        // the sketch scalar, once per materialization for the top-10)
        // with no overlap to hide it — 2.8x the twin at sf1; this is
        // also the production shape: sketches merge from per-shard
        // rollups, not from re-scanned raw occurrences.
        val termCnt = t(s, dir, "documents")
          .select(explode(words(col("text"))).as("term"))
          .filter(col("term") =!= "")
          .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          // LAZY checkpoint: the sketch scalar below is the first
          // action, so ONE job runs token-pass + rollup + cache + CMS
          // (an eager checkpoint would spend a whole extra job wave
          // materializing before the sketch could start)
          .localCheckpoint(false)
        val row = termCnt.agg(
          graft.functions.CmsExprs.cmsSketchWeighted(
            col("term"), col("cnt"), eps, 0.99, 42).as("cms"),
          sum(col("cnt")).as("n")).head()
        val slack = math.ceil(eps * row.getLong(1)).toLong
        val est = graft.functions.CmsExprs.cmsEstimate(col("term"),
          row.getAs[Array[Byte]](0))
        termCnt
          .orderBy(col("cnt").desc, col("term").asc).limit(10)
          .select(col("term"), col("cnt"),
            (est >= col("cnt") && est <= col("cnt") + lit(slack))
              .as("within_envelope"))
      },
      Some(s"""WITH toks AS (SELECT unnest($dWords) AS term FROM documents),
              |top AS (SELECT term, COUNT(*) AS cnt FROM toks WHERE term <> ''
              |  GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 10)
              |SELECT term, cnt, TRUE AS within_envelope FROM top""".stripMargin),
      "count-min-sketch heavy hitters with one-sided error envelope (north-star: sketches)"),

    // Unigram LM surprisal scoring — the CCNet/KenLM-style "perplexity
    // filter" of a pretraining pipeline: score each document by how
    // surprising its tokens are under the corpus's own unigram model
    // (docs full of rare junk score high; boilerplate scores low). The
    // float-free formulation: per-token surprisal ≈ −log2 p(t) is taken
    // at integer resolution, bits(N) − bits(c(t)) where bits(x) =
    // length(bin(x)) = ⌊log2 x⌋ + 1 — exact in both engines (the dynBkt
    // trick), so sums and the milli-bits-per-token mean (half-away
    // rational divide) are bit-identical under any partition layout; no
    // libm call whose last ulp could differ cross-engine. Shuffle shape
    // = d18's: one doc_id spread, one term-keyed shuffle for the
    // frequency table, freq broadcast back (AQE self-demotes if a real
    // vocab outgrows an executor), per-doc rollup on the doc_id
    // partitioning. Zero-token docs drop from the output in BOTH
    // engines (nothing to score).
    Q("d25_lm_surprisal",
      (s, dir) => surprisalDf(t(s, dir, "documents")),
      Some(s"""WITH $dSurprisal
              |SELECT doc_id, n_tokens, surprisal_bits, milli_bits_per_token FROM scored""".stripMargin),
      "unigram LM surprisal quality score, exact integer log2 (north-star: quality filtering)"),

    // Typo-pair mining over the corpus vocabulary — the SymSpell /
    // deletion-neighborhood trick, which is THE scale story for fuzzy
    // matching: a naive edit-distance-1 self-join is O(V²) distance
    // computations, but two words at distance 1 MUST share a member of
    // {word} ∪ del1(word) (delete the inserted char / the substituted
    // char on either side), so generating the ≤(len+1) deletion variants
    // per word (index explode — the safe generator shape) and
    // equi-joining on the variant string turns the problem into one
    // linear expansion + one hash shuffle on the variant key; the exact
    // levenshtein check then runs only on candidates that share a
    // variant (it also kills the transposition-shaped distance-2 pairs
    // the neighborhood admits). Vocabulary is [a-z]{4,20} words — the
    // normalization/typo-clustering primitive of corpus cleaning.
    Q("d26_typo_pairs",
      (s, dir) => {
        // The synthetic corpus's fixed word list contains no distance-1
        // pairs, so (the d17 pattern: the corpus has no PII either) a
        // deterministic typo stream is injected in BOTH engines —
        // insertion "sparkk", deletion "valu", substitution "streem",
        // and the transposition "ordre", which generates candidates but
        // sits at distance 2 and must be killed by the exact check.
        val typod = t(s, dir, "documents").withColumn("text",
          concat(col("text"), lit(" "),
            element_at(array(lit("sparkk"), lit("valu"), lit("streem"), lit("ordre")),
              (pmod(col("doc_id"), lit(4)) + 1).cast("int"))))
        val vocab = typod
          .select(explode(words(col("text"))).as("term"))
          .filter(col("term").rlike("^[a-z]{4,20}$"))
          .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        val vars = vocab
          .select(col("term"), col("freq"),
            explode(sequence(lit(0), length(col("term")))).as("i"))
          .select(col("term"), col("freq"),
            when(col("i") === 0, col("term"))
              .otherwise(concat(
                expr("substring(term, 1, i - 1)"),
                expr("substring(term, i + 1)"))).as("v"))
        // merge-hinted on BOTH sides (the d20 lesson): the variant table
        // is corpus-derived and post-agg size estimates are garbage — a
        // planner broadcast here would OOM the driver at real vocab
        // sizes. SMJ of a self-join also reuses one exchange.
        val a = vars.select(col("term").as("term_a"), col("freq").as("freq_a"), col("v"))
          .hint("merge")
        val b = vars.select(col("term").as("term_b"), col("freq").as("freq_b"), col("v"))
          .hint("merge")
        a.join(b, Seq("v"))
          .filter(col("term_a") < col("term_b") &&
            levenshtein(col("term_a"), col("term_b")) === 1)
          .select(col("term_a"), col("term_b"), col("freq_a"), col("freq_b"))
          .distinct()
      },
      Some(s"""WITH typod AS (SELECT doc_id,
              |  text || ' ' || (['sparkk','valu','streem','ordre'])[(((doc_id % 4) + 4) % 4 + 1)] AS text
              |  FROM documents),
              |toks AS (SELECT unnest(${dWords.replace("text", "typod.text")}) AS term FROM typod),
              |vocab AS (SELECT term, COUNT(*) AS freq FROM toks
              |  WHERE regexp_full_match(term, '[a-z]{4,20}') GROUP BY term),
              |vars AS (SELECT term, freq,
              |    CASE WHEN i = 0 THEN term
              |      ELSE substr(term, 1, i - 1) || substr(term, i + 1) END AS v
              |  FROM (SELECT term, freq, unnest(range(0, length(term) + 1)) AS i FROM vocab))
              |SELECT DISTINCT a.term AS term_a, b.term AS term_b,
              |  a.freq AS freq_a, b.freq AS freq_b
              |FROM vars a JOIN vars b ON a.v = b.v
              |WHERE a.term < b.term AND levenshtein(a.term, b.term) = 1""".stripMargin),
      "SymSpell deletion-neighborhood typo pairs at edit distance 1 (north-star: fuzzy matching)"),

    // Quality-weighted importance sampling — the data-MIXING primitive
    // (DoReMi-style reweighting applied at selection time): each doc is
    // kept with probability proportional to its quality, not at one
    // global rate. Composes the d25 scorer with the d23 hash-Bernoulli
    // trick at a PER-ROW rate: keep iff the first 60 bits of
    // md5(seed‖doc_id), read as an integer fraction of 2⁶⁰, fall below
    // rate(doc)·2⁶⁰ — rate(doc) ramps linearly from 1 at ≤4000
    // milli-bits down to 0 at ≥6000 (the corpus's organic scores sit at
    // 5000–5400, so the ramp actually grades), evaluated in EXACT
    // integer arithmetic (clamp(6000 − mb, 0, 2000) · ⌊2⁶⁰/2000⌋), so
    // the keep/drop verdict is bit-deterministic in both engines,
    // shuffle-free given the scores, and mergeable across shards.
    // Shuffle shape = d25's (the score computation); the sampling
    // itself adds zero exchanges.
    Q("d27_importance_sample",
      (s, dir) => importanceSampleDf(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("milli_bits_per_token")),
      Some(s"""WITH $dSurprisal
              |SELECT doc_id, n_tokens, milli_bits_per_token FROM scored
              |WHERE ('0x' || substr(md5('qs:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
              |  LEAST(GREATEST(6000 - milli_bits_per_token, 0), 2000) * 576460752303423""".stripMargin),
      "quality-weighted importance sampling: per-doc keep rate from the d25 score (north-star: data mixing)"),

    // Deterministic training-order shuffle + shard assignment — the
    // LAST step of a pretraining pipeline: every doc gets a shard (of
    // 8) and an exact position within its shard's training order, both
    // derived from md5(ord:‖doc_id) so the order is reproducible,
    // seed-switchable, and independent of input layout. The global
    // per-shard position is computed WITHOUT a shard-serial sort (the
    // d22 lesson): rank within (shard, bucket) plus broadcast
    // per-bucket base offsets (a 256-row side computed from bucket
    // counts). The bucket MUST be an order-consistent PREFIX of the
    // sort key — the full leading hex BYTE (0..255), so that k order ≡
    // (bucket, k) order within a shard; a narrower slice (say the 2nd
    // nibble alone) interleaves across 1st nibbles and breaks the
    // decomposition. At 100 TB each bucket sort is spillable and
    // parallel; nothing serializes through one task.
    Q("d28_train_order",
      (s, dir) => trainOrderDf(t(s, dir, "documents")),
      Some("""WITH keyed AS (SELECT doc_id,
             |    md5('ord:' || CAST(doc_id AS VARCHAR)) AS k
             |  FROM documents WHERE doc_id IS NOT NULL),
             |kb AS (SELECT doc_id, k,
             |    ('0x' || substr(k, 1, 1))::BIGINT % 8 AS shard,
             |    ('0x' || substr(k, 1, 2))::BIGINT AS bucket
             |  FROM keyed),
             |counts AS (SELECT shard, bucket, COUNT(*) AS n FROM kb GROUP BY shard, bucket),
             |offsets AS (SELECT shard, bucket,
             |    SUM(n) OVER (PARTITION BY shard ORDER BY bucket) - n AS base
             |  FROM counts),
             |rk AS (SELECT doc_id, shard, bucket, k,
             |    ROW_NUMBER() OVER (PARTITION BY shard, bucket ORDER BY k, doc_id) AS rk
             |  FROM kb)
             |SELECT r.doc_id, r.shard,
             |  CAST(o.base + r.rk - 1 AS BIGINT) AS train_pos
             |FROM rk r JOIN offsets o ON r.shard = o.shard AND r.bucket = o.bucket""".stripMargin),
      "deterministic training-order shuffle: shard + exact position, two-level (no shard-serial sort) (north-star)"),

    // Cross-corpus NEAR-dup decontamination — the fuzzy complement of
    // d15's exact 5-gram anti-join: drop every TARGET doc whose shingle
    // Jaccard with any REFERENCE doc (the held-out/eval snapshot,
    // doc_id % 10 = 0 — d15's benchMod convention) reaches 0.5, so a
    // lightly-paraphrased eval document is caught, not just a verbatim
    // one. Same machinery as d20 (ONE signature pass over the union
    // corpus, band-bucket candidates, exact verify on bound shingle
    // sets — all the PlanGuardSpec disciplines apply), with candidates
    // restricted to cross pairs: an in-corpus duplicate never blocks a
    // target doc. Scale shape: the reference corpus is an eval suite
    // (tiny vs 100 TB), so the cross restriction prunes the bucket pair
    // generation to |bucket∩ref|·|bucket∩tgt| — the decontamination
    // regime, far below the in-corpus pair count.
    Q("d29_cross_neardup",
      (s, dir) => {
        val isRef = (c: org.apache.spark.sql.Column) => c % 10 === 0
        val contaminated =
          crossNeardupContaminatedIds(t(s, dir, "documents"), isRef)
        t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && !isRef(col("doc_id")))
          .join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some {
        s"""${dMinhashWith(keepSh = true)},
           |${dPairs("\n  WHERE (a.doc_id % 10 = 0) <> (b.doc_id % 10 = 0)")},
           |$dSets,
           |contaminated AS (
           |  SELECT DISTINCT CASE WHEN p.doc_id_a % 10 = 0 THEN p.doc_id_b
           |    ELSE p.doc_id_a END AS doc_id
           |  FROM pairs p
           |  JOIN sets sa ON p.doc_id_a = sa.doc_id
           |  JOIN sets sb ON p.doc_id_b = sb.doc_id
           |  WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
           |    (CAST(len(sa.ss) + len(sb.ss) AS DOUBLE) - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)) >= 0.5)
           |SELECT d.doc_id, d.lang, d.source FROM documents d
           |WHERE d.doc_id % 10 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin
      },
      "cross-corpus near-dup decontamination: fuzzy-drop targets matching the reference snapshot (north-star: dedup)"),

    // C4-style duplicate-SPAN removal: cut every document into
    // non-overlapping 16-token blocks, keep exactly ONE corpus-wide
    // occurrence of each block's content (the lexicographically first
    // (doc_id, k) — C4 "discard all but one of any span occurring more
    // than once"), and reconstruct each document from its surviving
    // blocks. d21 measures chunk-level duplication; this REMOVES it and
    // emits the cleaned text fingerprint — the curation step that
    // strips boilerplate paragraphs repeated across a crawl.
    //
    // Shuffle shape (the 100 TB budget): the corpus text rides ONLY the
    // deliberate doc_id spread; the dedup pipeline ships narrow
    // (md5, doc_id, k) tuples through one block-hash exchange (shared by
    // the keeper aggregate and the probe join — the d21 struct-pack
    // pattern, PlanGuardSpec-enforced) and the kept-flags return through
    // one narrow doc_id exchange. Block construction is recomputed from
    // the columnar scan in the flag subtree rather than shuffling block
    // content a second time — recompute-from-scan beats a second
    // corpus-sized wide shuffle. Keeper selection is a map-side-
    // combinable min(struct), NOT a per-hash window: a boilerplate block
    // occurring 10⁸ times collapses to one row per map task instead of
    // streaming 10⁸ rows through one window task. The flags join and the
    // final rollup both run on the existing HashPartitioning(doc_id) —
    // no further exchanges.
    Q("d30_dupspan_removal",
      (s, dir) => {
        spanBlocksFlagged(t(s, dir, "documents"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_blocks"),
            sum(when(col("kept"), 0L).otherwise(1L)).as("removed_blocks"),
            sum(when(col("kept"), col("btok")).otherwise(0L)).as("clean_tokens"),
            md5(array_join(
              transform(
                array_sort(collect_list(when(col("kept"), struct(col("k"), col("content"))))),
                x => x.getField("content")),
              " ").cast("binary")).as("clean_md5"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $dWords AS ws FROM documents
              |  WHERE text IS NOT NULL AND doc_id IS NOT NULL),
              |nn AS (SELECT doc_id, ws, len(ws) AS n FROM w),
              |kk AS (SELECT doc_id, ws, n, unnest(range(0, (n + 15) // 16)) AS k FROM nn),
              |blocks AS (SELECT doc_id, CAST(k AS BIGINT) AS k,
              |    CAST(least(16, n - (1 + k*16) + 1) AS BIGINT) AS btok,
              |    array_to_string(ws[(1 + k*16):least(k*16 + 16, n)], ' ') AS content
              |  FROM kk),
              |hashed AS (SELECT doc_id, k, btok, content, md5(content) AS h FROM blocks),
              |keeper AS (SELECT h, MIN(ROW(doc_id, k)) AS keep_dt FROM hashed GROUP BY h),
              |flagged AS (SELECT b.doc_id, b.k, b.btok, b.content,
              |    (ROW(b.doc_id, b.k) = k2.keep_dt) AS kept
              |  FROM hashed b JOIN keeper k2 USING (h))
              |SELECT doc_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
              |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS removed_blocks,
              |  CAST(SUM(CASE WHEN kept THEN btok ELSE 0 END) AS BIGINT) AS clean_tokens,
              |  md5(COALESCE(string_agg(CASE WHEN kept THEN content END, ' ' ORDER BY k), '')) AS clean_md5
              |FROM flagged GROUP BY doc_id""".stripMargin),
      "C4-style duplicate-span removal: keep one corpus-wide copy of each 16-token block, rebuild docs (north-star: dedup)"),

    // PMI collocation mining — the phrase-extraction member of the text-
    // analysis family (word2vec-phrases / NPMI boilerplate detection):
    // corpus-wide bigrams with count ≥ 5 scored by pointwise mutual
    // information ln(N·c(ab) / (c(a)·c(b))), global top-50. Every count
    // is an exact integer; the PMI argument is computed as ONE double
    // ratio of exact ≤2⁵³ products, so both engines feed ln the same
    // bits and round(,4) absorbs the last-ulp libm gap (the d18 log
    // discipline). Ordering ties break on the bigram itself.
    //
    // Shuffle shape: one doc_id spread, then ONE boundary-sentinel
    // (prev, cur) pair aggregation (map-side combinable — a stopword
    // bigram collapses per task) from which unigram counts, bigram
    // counts and the token total all derive (see the body comment);
    // the unigram table joins back BROADCAST twice (post min-count the
    // scored vocab fits an executor; AQE self-demotes if not), so the
    // bigram stream never re-shuffles; the global top-50 is a
    // TakeOrdered, not a sort.
    Q("d31_collocations",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .repartition(col("doc_id"))
          .select(col("doc_id"), words(col("text")).as("ws"))
        // ONE corpus tokenize pass feeds unigrams, bigrams AND the token
        // total (guide §2.3/§2.4 — the previous shape ran TWO corpus
        // explode passes: a unigram agg shared by the ca/cb broadcast
        // subtrees plus a separate bigram agg, because their exchanges
        // were keyed differently). Each doc emits one boundary-sentinel
        // adjacency slot per position j∈[0, n]: (prev, cur) =
        // (ws[j] if j≥1 else NULL, ws[j+1] if j<n else NULL), so
        //   bigram counts  = slots with both sides non-null (j∈[1,n-1]),
        //   unigram counts = Σ over cur of the slot counts per prev
        //     (every occurrence is `prev` of exactly one slot, j∈[1,n]),
        //   n              = Σ unigram counts (window over the vocab).
        // The single (a, b) pair aggregation is the only corpus-sized
        // exchange; the unigram derivations and both broadcast lookups
        // re-run only the vocab²-sized final agg over that SAME reused
        // exchange (ReusedExchange in the executed plan). Counts are
        // identical integers to the two-pass spelling — same ws array,
        // every slot classified once — so pmi bits don't move. CaseWhen
        // evaluates lazily: element_at never sees index 0.
        val slots = base
          .select(col("ws"), explode(sequence(lit(0), size(col("ws")))).as("j"))
          .select(
            when(col("j") >= 1, element_at(col("ws"), col("j"))).as("a"),
            when(col("j") < size(col("ws")),
              element_at(col("ws"), col("j") + 1)).as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        val uni = slots.filter(col("a").isNotNull)
          .groupBy(col("a")).agg(sum(col("c")).as("ct"))
        val bi = slots
          .filter(col("a").isNotNull && col("b").isNotNull && col("c") >= 5)
          .select(col("a"), col("b"), col("c").as("cab"))
        // n = Σ ct — an unpartitioned window sum over the vocab-sized
        // unigram aggregate, NOT its own corpus pass + crossJoin.
        val withN = uni.withColumn("n", sum(col("ct")).over(
          org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)))
        bi.join(broadcast(withN.select(col("a"), col("ct").as("ca"), col("n"))), Seq("a"))
          .join(broadcast(uni.select(col("a").as("b"), col("ct").as("cb"))), Seq("b"))
          .withColumn("pmi", round(log(
            (col("cab").cast("double") * col("n").cast("double")) /
              (col("ca").cast("double") * col("cb").cast("double"))), 4))
          .orderBy(col("pmi").desc, col("a").asc, col("b").asc).limit(50)
          .select(col("a"), col("b"), col("cab"), col("pmi"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $dWords AS ws FROM documents WHERE text IS NOT NULL),
              |n AS (SELECT CAST(SUM(len(ws)) AS BIGINT) AS n FROM w),
              |uni AS (SELECT unnest(ws) AS t FROM w),
              |uc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS ct FROM uni GROUP BY t),
              |bi AS (SELECT ws[i] AS a, ws[i + 1] AS b
              |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w)),
              |bc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM bi
              |  GROUP BY a, b HAVING COUNT(*) >= 5)
              |SELECT a, b, cab,
              |  ROUND(ln((CAST(cab AS DOUBLE) * CAST(n.n AS DOUBLE)) /
              |    (CAST(ua.ct AS DOUBLE) * CAST(ub.ct AS DOUBLE))), 4) AS pmi
              |FROM bc JOIN uc ua ON bc.a = ua.t JOIN uc ub ON bc.b = ub.t, n
              |ORDER BY pmi DESC, a ASC, b ASC LIMIT 50""".stripMargin),
      "PMI collocation mining: top-50 bigram phrases by pointwise mutual information (north-star: text analysis)"),

    // Contamination ATTRIBUTION — the report d15 doesn't give you: d15
    // tells each TARGET doc how contaminated it is; this tells each
    // REFERENCE (eval) doc how badly it leaked into the corpus — which
    // eval items are compromised and how widely, the evidence an eval
    // owner needs to retire a question. Per reference doc: the number
    // of distinct target docs sharing ≥ 1 word 5-gram with it, and the
    // total (target doc, shared gram) match volume; zero-leak refs are
    // reported too (the healthy baseline).
    //
    // Shuffle shape: per-doc-distinct grams off the d15 index-explode
    // discipline; the REFERENCE gram table is the broadcast side (eval
    // suite — bounded at any corpus scale), so the corpus-sized target
    // gram stream is scan→broadcast-probe→partial-agg: the only rows
    // that reach the ref_id exchange are actual matches (contamination
    // volume, not corpus volume).
    Q("d32_contam_attribution",
      (s, dir) => {
        val grams = gram5(spreadWords(t(s, dir, "documents"))).distinct()
        val bench = grams.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("ref_id"), col("gram"))
        val hits = grams.filter(col("doc_id") % 20 =!= 0)
          .join(broadcast(bench), Seq("gram"))
          .groupBy(col("ref_id"))
          .agg(countDistinct(col("doc_id")).as("n_contaminated"),
            count(lit(1)).as("shared_grams"))
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("ref_id"))
          .join(hits, Seq("ref_id"), "left")
          .select(col("ref_id"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
            coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $dWords AS ws FROM documents),
              |g AS (SELECT doc_id, list_distinct($dGrams5) AS g FROM w),
              |bench AS (SELECT doc_id AS ref_id, unnest(g) AS gram FROM g WHERE doc_id % 20 = 0),
              |tgt AS (SELECT doc_id, unnest(g) AS gram FROM g WHERE doc_id % 20 <> 0),
              |hits AS (SELECT b.ref_id,
              |    CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_contaminated,
              |    CAST(COUNT(*) AS BIGINT) AS shared_grams
              |  FROM tgt t JOIN bench b ON t.gram = b.gram GROUP BY b.ref_id)
              |SELECT d.doc_id AS ref_id,
              |  COALESCE(h.n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated,
              |  COALESCE(h.shared_grams, CAST(0 AS BIGINT)) AS shared_grams
              |FROM documents d LEFT JOIN hits h ON d.doc_id = h.ref_id
              |WHERE d.doc_id % 20 = 0""".stripMargin),
      "contamination attribution: per eval doc, distinct leaked-into targets + match volume (north-star: decontamination)"),

    // BM25 top-k retrieval — the ranked-retrieval member of the text
    // family (d18 builds the TF-IDF statistics; this SEARCHES with
    // them): Lucene-variant BM25 (k1=1.2, b=0.75) for a fixed query bag,
    // scored in exact integer micro-units (see [[bm25TopKDf]] for the
    // formula derivation and the 2⁵³ headroom note). The search shape at
    // 100 TB: the (doc,term) exchange carries only QUERY-matched
    // postings — query volume, not corpus volume — document length and
    // global stats ride broadcast, and the cut is a TakeOrdered heap.
    Q("d33_bm25_topk",
      (s, dir) => bm25TopKDf(t(s, dir, "documents"),
        Seq("merge", "vector", "stream"), 10),
      Some(s"""WITH toks0 AS (SELECT doc_id, unnest($dWords) AS term FROM documents),
              |tok AS (SELECT doc_id, term FROM toks0 WHERE term <> ''),
              |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
              |gl AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd,
              |    CAST(COUNT(*) AS BIGINT) AS ntok FROM tok),
              |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
              |  WHERE term IN ('merge', 'vector', 'stream') GROUP BY doc_id, term),
              |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
              |scored AS (SELECT t.doc_id, l.dl,
              |    (CAST(round(ln((2.0*g.nd + 2) / (2*d.df + 1)) * 1000) AS BIGINT)
              |      * ((44*t.tf*g.ntok*1000000) // (20*t.tf*g.ntok + 6*g.ntok + 18*l.dl*g.nd)))
              |      // 1000 AS ts
              |  FROM tf t JOIN dl l USING (doc_id) JOIN dft d USING (term), gl g)
              |SELECT doc_id, CAST(SUM(ts) AS BIGINT) AS score_micro,
              |  CAST(MAX(dl) AS BIGINT) AS dl
              |FROM scored GROUP BY doc_id
              |ORDER BY score_micro DESC, doc_id ASC LIMIT 10""".stripMargin),
      "BM25 top-k retrieval: exact-integer Lucene BM25 over query postings (north-star: text analysis)"),

    // Bigram LM surprisal — d25's unigram model extended to an add-one-
    // smoothed CONDITIONAL bigram model, still in exact integer bits
    // (bits(c(a·)+V) − bits(c(ab)+1); no libm anywhere, so cross-engine
    // drift is impossible by construction — see [[bigramSurprisalDf]]).
    // The score pair (d25, d34) is the fluency signal a quality gate
    // actually wants: unigram surprisal catches rare VOCABULARY, bigram
    // surprisal catches scrambled WORD ORDER that unigram stats can't
    // see (a shuffled doc keeps its d25 score, its d34 score jumps).
    Q("d34_bigram_surprisal",
      (s, dir) => bigramSurprisalDf(t(s, dir, "documents")),
      Some(s"""WITH w AS (SELECT doc_id, $dWords AS ws FROM documents
              |  WHERE text IS NOT NULL AND doc_id IS NOT NULL),
              |bi AS (SELECT doc_id, ws[i] AS a, ws[i+1] AS b
              |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
              |bc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM bi GROUP BY a, b),
              |hc AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM bi GROUP BY a),
              |v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
              |  FROM (SELECT unnest(ws) AS t FROM w) WHERE t <> '')
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              |  CAST(SUM(length(bin(h.ca + v.v)) - length(bin(c.cab + 1))) AS BIGINT) AS surprisal_bits,
              |  CAST(${Sim.halfAwayDivSql(
                 "SUM(length(bin(h.ca + v.v)) - length(bin(c.cab + 1))) * 1000",
                 "COUNT(*)")} AS BIGINT) AS milli_bits_per_bigram
              |FROM bi JOIN bc c USING (a, b) JOIN hc h USING (a), v
              |GROUP BY doc_id""".stripMargin),
      "bigram LM surprisal: add-one conditional model in exact integer bits (north-star: quality scoring)"),

    // BPE merge-pair mining — the distributed core of tokenizer
    // TRAINING: occurrence-weighted adjacent character-pair counts
    // within word boundaries, top-20 merge candidates (the first BPE
    // iteration's argmax set; see [[bpeMergePairsDf]] for how the full
    // train loop drives this primitive). d10 APPLIES a BPE-ish
    // tokenization; this is the counting side that LEARNS one.
    Q("d35_bpe_merge_pairs",
      (s, dir) => bpeMergePairsDf(t(s, dir, "documents"), 20),
      Some(s"""WITH t AS (SELECT unnest($dWords) AS w FROM documents WHERE text IS NOT NULL),
              |p AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
              |  FROM (SELECT w, unnest(range(1, length(w))) AS i FROM t
              |        WHERE length(w) >= 2))
              |SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM p
              |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin),
      "BPE merge-pair mining: top-20 within-word symbol pairs, occurrence-weighted (north-star: tokenizer training)"),

    // Data-mixture plan — the sampling-rate SOLVER that turns "40% en,
    // 15% each de/es/fr/zh" into per-language token quotas and exact
    // d23-feedable rates (see [[mixturePlanDf]]): T = min_s ⌊n_s·10⁶/w_s⌋
    // caps the epoch so no language upsamples; everything is floor
    // arithmetic on exact longs. Closes the mixing loop: d24 stoplists,
    // d27 quality-weights, THIS sets corpus proportions, d28 orders.
    Q("d36_mixture_plan",
      (s, dir) => mixturePlanDf(t(s, dir, "documents")),
      Some(s"""WITH n AS (SELECT lang,
              |    CAST(SUM(CASE WHEN length($dNorm) = 0 THEN 0
              |      ELSE length($dNorm) - length(replace($dNorm, ' ', '')) + 1 END) AS BIGINT) AS n_tokens
              |  FROM documents WHERE text IS NOT NULL GROUP BY lang),
              |wt AS (SELECT lang, n_tokens,
              |    CAST(CASE WHEN lang = 'en' THEN 400000 ELSE 150000 END AS BIGINT) AS weight_ppm
              |  FROM n),
              |cap AS (SELECT MIN((n_tokens * 1000000) // weight_ppm) AS t_max FROM wt)
              |SELECT lang, n_tokens, weight_ppm,
              |  (weight_ppm * t_max) // 1000000 AS quota_tokens,
              |  (((weight_ppm * t_max) // 1000000) * 1000000) // n_tokens AS rate_ppm
              |FROM wt, cap""".stripMargin),
      "data-mixture plan: per-language quotas + exact sampling rates under target weights (north-star: data mixing)"),

    // Gopher-style rule battery — d02 reports ratios, THIS gates: five
    // exact-integer rules folded into a fail bitmask + keep flag (see
    // [[gopherRulesDf]]). The Spark side is a zero-shuffle per-row map
    // (the top-token count is a run-length fold over the sorted token
    // array, not an explode+mode agg); the SQL twin below pays the
    // (doc,term) explode because SQL has no per-row fold.
    Q("d37_gopher_rules",
      (s, dir) => gopherRulesDf(t(s, dir, "documents")),
      Some(s"""WITH w AS (SELECT doc_id, list_filter($dWords, x -> x <> '') AS ws
              |  FROM documents WHERE text IS NOT NULL),
              |tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
              |tc AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
              |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
              |    CAST(SUM(c * length(term)) AS BIGINT) AS sum_len,
              |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
              |    CAST(MAX(c) AS BIGINT) AS top_cnt,
              |    CAST(COUNT(CASE WHEN term IN ('the','a','of','and','be','to','in','it')
              |      THEN 1 END) AS BIGINT) AS stop_hits
              |  FROM tc GROUP BY doc_id),
              |f AS (SELECT w.doc_id, coalesce(n_words, 0) AS n_words,
              |    coalesce(sum_len, 0) AS sum_len, coalesce(n_distinct, 0) AS n_distinct,
              |    coalesce(top_cnt, 0) AS top_cnt, coalesce(stop_hits, 0) AS stop_hits
              |  FROM w LEFT JOIN agg USING (doc_id)),
              |m AS (SELECT doc_id, n_words, stop_hits,
              |    CASE WHEN n_words > 0 THEN (sum_len * 1000) // n_words ELSE 0 END AS mwl_milli,
              |    CASE WHEN n_words > 0 THEN (top_cnt * 1000000) // n_words ELSE 0 END AS top_ppm,
              |    CASE WHEN n_words > 0 THEN (n_distinct * 1000000) // n_words ELSE 0 END AS ttr_ppm
              |  FROM f),
              |k AS (SELECT doc_id, n_words, stop_hits, mwl_milli, top_ppm, ttr_ppm,
              |    CAST(CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0 ELSE 1 END
              |      + CASE WHEN n_words > 0 AND mwl_milli BETWEEN 3000 AND 10000 THEN 0 ELSE 2 END
              |      + CASE WHEN stop_hits >= 2 THEN 0 ELSE 4 END
              |      + CASE WHEN n_words > 0 AND top_ppm <= 150000 THEN 0 ELSE 8 END
              |      + CASE WHEN n_words > 0 AND ttr_ppm >= 300000 THEN 0 ELSE 16 END AS BIGINT) AS fail_mask
              |  FROM m)
              |SELECT doc_id, n_words, mwl_milli, stop_hits, top_ppm, ttr_ppm, fail_mask,
              |  CAST(CASE WHEN fail_mask = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
              |FROM k""".stripMargin),
      "Gopher-style rule battery: 5 exact-integer gates -> fail bitmask (north-star: quality gating)"),

    // Feature-hashing linear quality scorer — the fastText shape with a
    // deterministic hash-keyed weight table (see [[hashedScoreDf]]);
    // zero-shuffle scan-parallel scoring, the only deployable shape for
    // model-based gating at corpus scale.
    Q("d38_hashed_quality",
      (s, dir) => hashedScoreDf(t(s, dir, "documents")),
      Some(s"""WITH w AS (SELECT doc_id, list_filter($dWords, x -> x <> '') AS ws
              |  FROM documents WHERE text IS NOT NULL),
              |sc AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
              |    CAST(coalesce(list_sum(list_transform(ws,
              |      x -> CAST('0x' || substring(md5(x), 1, 8) AS BIGINT) % 2001 - 1000)), 0)
              |      AS BIGINT) AS score_sum
              |  FROM w)
              |SELECT doc_id, n_tokens, score_sum,
              |  CAST(CASE WHEN n_tokens > 0
              |    THEN ${Sim.halfAwayDivSql("score_sum * 1000", "n_tokens")}
              |    ELSE 0 END AS BIGINT) AS score_milli,
              |  CAST(CASE WHEN score_sum >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
              |FROM sc""".stripMargin),
      "feature-hashing linear scorer: deterministic hashed weights, zero-shuffle (north-star: model-based quality)"),

    // Per-source curation dashboard — the observability rollup a corpus
    // owner reads before setting d36 weights or d27 thresholds: for
    // every (lang, source) shard, doc inventory, exact-duplicate volume
    // (docs whose text hash appears >1 time corpus-WIDE — cross-source
    // duplication counts against both sources), duplication ppm, and
    // token inventory. Shuffle shape: text NEVER shuffles, and there is
    // NO join — the corpus-wide copy count is a whole-partition window
    // count over the fingerprint, so the plan is one narrow
    // (md5, lang, source, n_tokens) fp exchange + the tiny (lang,
    // source) rollup. (The join formulation — groupBy(fp) then probe —
    // needs either a second corpus pass or a struct-packed shared
    // exchange, and AQE broadcasts the post-agg side off a garbage
    // size estimate: a corpus-distinct fingerprint table at 100 TB is
    // NOT broadcastable — the d20 lesson. The window needs none of
    // that; a degenerate fingerprint group spills through WindowExec
    // rather than OOMing an executor.)
    Q("d39_source_report",
      (s, dir) => sourceReportDf(t(s, dir, "documents")),
      Some(s"""WITH base AS (SELECT lang, source, md5(text) AS fp,
              |    CAST(CASE WHEN length($dNorm) = 0 THEN 0
              |      ELSE length($dNorm) - length(replace($dNorm, ' ', '')) + 1 END AS BIGINT) AS ntok
              |  FROM documents),
              |j AS (SELECT lang, source, ntok,
              |    COUNT(*) OVER (PARTITION BY fp) AS n_copies FROM base)
              |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
              |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
              |  CAST((SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
              |FROM j GROUP BY lang, source""".stripMargin),
      "per-source curation dashboard: doc/dup/token inventory per (lang, source) (north-star: observability)"),

    // Zipf / frequency-of-frequency report — the vocabulary-health
    // diagnostic read before trusting token statistics (a natural
    // corpus shows a power-law tail; scraped boilerplate collapses it):
    // term counts log2-bucketed by bits(c) = length(bin(c)) = ⌊log2 c⌋+1
    // (the exact-integer d25 discipline — no libm), per bucket the
    // number of distinct terms and their total occurrence mass.
    // Shuffle shape: doc_id spread → one (term) exchange with map-side
    // partial counts (a stopword's rows collapse before shipping) →
    // the bucket rollup is a tiny ≤64-row agg.
    Q("d40_zipf_report",
      (s, dir) => zipfReportDf(t(s, dir, "documents")),
      Some(s"""WITH tok AS (SELECT unnest($dWords) AS term FROM documents),
              |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok
              |  WHERE term <> '' GROUP BY term)
              |SELECT CAST(length(bin(c)) AS BIGINT) AS count_bits,
              |  CAST(COUNT(*) AS BIGINT) AS n_terms,
              |  CAST(SUM(c) AS BIGINT) AS n_occurrences
              |FROM tc GROUP BY length(bin(c))""".stripMargin),
      "Zipf report: term counts log2-bucketed, distinct terms + occurrence mass per bucket (north-star: corpus diagnostics)"),

    // BPE merge APPLICATION — the serving half of the tokenizer story
    // (d35 mines the merge ranking; nothing encoded with it until now).
    // Domain, representation, pass semantics, and the scale shape are
    // documented on [[bpeApplyDf]]; the gate output is (per doc) the
    // mergeable word count, pre-merge symbol count (chars), post-merge
    // symbol count, and the md5 of the FULL encoded string — the
    // fingerprint makes the oracle an exact cross-engine equality on
    // every replace's byte-level behavior, not just on aggregate
    // counts. The twin re-mines the merge table in SQL (scalar 1-row
    // cross join) because static SQL cannot collect; the Spark side
    // bakes the k collected pairs into the replace chain as literals —
    // the trained-tokenizer-broadcast deployment shape.
    Q("d41_bpe_apply",
      (s, dir) => bpeApplyDf(t(s, dir, "documents")),
      Some {
        val msCols = (1 to BpeMerges).map(j =>
          s"coalesce(max(CASE WHEN rk = $j THEN pair END), '¤¤') AS p$j")
          .mkString(",\n|    ")
        val encSql = (1 to BpeMerges).foldLeft("b") { (acc, j) =>
          (1 to BpePasses).foldLeft(acc)((a, _) =>
            s"replace($a, ' ' || substr(p$j,1,1) || ' ' || substr(p$j,2,1) || ' ', ' ' || p$j || ' ')")
        }
        s"""WITH ew AS (SELECT unnest(list_filter($dWords, w -> length(w) >= 2 AND regexp_matches(w, '$bpeEligibleRe'))) AS w
           |  FROM documents WHERE text IS NOT NULL),
           |pr AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
           |  FROM (SELECT w, unnest(range(1, length(w))) AS i FROM ew)),
           |mr AS (SELECT pair, row_number() OVER (ORDER BY COUNT(*) DESC, pair ASC) AS rk
           |  FROM pr GROUP BY pair ORDER BY COUNT(*) DESC, pair ASC LIMIT $BpeMerges),
           |ms AS (SELECT
           |    $msCols
           |  FROM mr),
           |d AS (SELECT doc_id, list_filter($dWords, w -> length(w) >= 2 AND regexp_matches(w, '$bpeEligibleRe')) AS elig
           |  FROM documents WHERE text IS NOT NULL),
           |eb AS (SELECT doc_id, elig,
           |    -- array_to_string([]) is NULL in DuckDB where Spark's
           |    -- concat_ws gives '' — coalesce pins the no-words doc
           |    -- to the same ' ' base both engines hash
           |    ' ' || regexp_replace(coalesce(array_to_string(elig, ' / '), ''), '(.)', '\\1 ', 'g') AS b
           |  FROM d),
           |ec AS (SELECT doc_id, elig, $encSql AS enc FROM eb, ms)
           |SELECT doc_id,
           |  CAST(len(elig) AS BIGINT) AS n_words,
           |  CAST(coalesce(list_aggregate(list_transform(elig, w -> length(w)), 'sum'), 0) AS BIGINT) AS chars_total,
           |  CAST(len(regexp_extract_all(enc, '[a-z0-9]+')) AS BIGINT) AS syms_total,
           |  md5(enc) AS enc_fp
           |FROM ec""".stripMargin
      },
      "BPE merge application: encode the corpus with the mined merge ranking — zero-exchange per-row rewrite over a literal merge model (north-star: tokenizer serving)"),

    // LSH banding TUNING report — the dedup family's analogue of e18's
    // ANN recall report (semantics, sample discipline, and the
    // subset/recall argument documented on [[lshTuningDf]]): per band
    // config, candidate volume vs exactly-verified yield vs recall
    // against the most sensitive config. The artifact a deployment
    // reads to CHOOSE the d07/d12/d13 banding before paying for it at
    // corpus scale.
    Q("d42_lsh_tuning",
      (s, dir) => lshTuningDf(s, dir),
      Some {
        val bandSel = lshTuningConfigs.flatMap { case (cfg, r) =>
          (0 until 8 / r).map { b =>
            val key = (0 until r).map(k => s"mh${b * r + k}")
              .mkString(s"'$b:'||", "||':'||", "")
            s"SELECT '$cfg' AS config, doc_id, $key AS band_key FROM sig"
          }
        }.mkString("\n  UNION ALL ")
        s"""${dMinhashWith(keepSh = true, " WHERE doc_id % 10 = 3", banded = false)},
           |banded AS (
           |  $bandSel),
           |pairs AS (
           |  SELECT DISTINCT a.config, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
           |  FROM banded a JOIN banded b
           |    ON a.config = b.config AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |$dSets,
           |ver AS (SELECT p.config,
           |    CASE WHEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
           |      (CAST(len(sa.ss) + len(sb.ss) AS DOUBLE) - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)) >= 0.5
           |      THEN 1 ELSE 0 END AS dup
           |  FROM pairs p
           |  JOIN sets sa ON p.doc_id_a = sa.doc_id
           |  JOIN sets sb ON p.doc_id_b = sb.doc_id),
           |percfg AS (SELECT
           |${lshTuningConfigs.map { case (cfg, _) =>
             s"    CAST(coalesce(SUM(CASE WHEN config = '$cfg' THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_$cfg,\n" +
             s"    CAST(coalesce(SUM(CASE WHEN config = '$cfg' THEN dup ELSE 0 END), 0) AS BIGINT) AS v_$cfg"
           }.mkString(",\n")}
           |  FROM ver)
           |${lshTuningConfigs.map { case (cfg, _) =>
             val gt = s"greatest(${lshTuningConfigs.map(c => s"v_${c._1}").mkString(", ")})"
             s"SELECT '$cfg' AS config, c_$cfg AS n_candidates, v_$cfg AS n_verified,\n" +
             s"  $gt AS n_true,\n" +
             s"  CASE WHEN $gt = 0 THEN CAST(0 AS BIGINT)\n" +
             s"    ELSE (v_$cfg * 1000000) // $gt END AS recall_ppm\nFROM percfg"
           }.mkString("\nUNION ALL ")}""".stripMargin
      },
      "LSH banding tuning report: per-config candidate cost vs verified yield vs recall on a deterministic sample (north-star: dedup tuning)"),

    // Cross-source keeper selection — the PROVENANCE-PRIORITY dedup a
    // multi-source corpus needs: when near-duplicates span sources
    // (wiki mirror vs web crawl), the keeper is chosen by source rank,
    // not arrival order. Clusters come from the same star-edge CC as
    // d12; within a cluster the keeper is the (source, doc_id)-minimum
    // (lexicographic source = the priority table of this corpus; a
    // deployment swaps in a rank join, the selection shape is
    // identical). Report: per source, docs held / keepers won /
    // evicted — the attrition view a curation owner reads to see which
    // source is feeding duplicates. Scale shape: CC as in d12; keeper
    // selection is ONE map-side-combinable min(struct) agg keyed by
    // cluster (skew-safe — a 10⁶-member cluster partial-aggregates to
    // one struct per map task, where a row_number window would sort the
    // whole cluster in one task); both report aggs shuffle 2-3 columns.
    Q("d43_keeper_priority",
      (s, dir) => {
        val comps = nearDupClusters(withShingles(s, dir))
        val cl = clusteredBySource(
          t(s, dir, "documents").select(col("doc_id"), col("source")), comps)
        val keepers = sourceKeepers(cl)
          .groupBy(col("k.source").as("source"))
          .agg(count(lit(1)).as("n_keepers"))
        cl.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .join(keepers, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_keepers"), lit(0L)).as("n_keepers"),
            (col("n_docs") - coalesce(col("n_keepers"), lit(0L))).as("n_evicted"))
      },
      Some {
        val (cc, lk) = CcSql.unrolled()
        s"""${dMinhashWith(keepSh = false)},
           |$dCcEdges,
           |$cc,
           |cl AS (SELECT d.doc_id, d.source, COALESCE($lk.rep, d.doc_id) AS cluster
           |  FROM documents d LEFT JOIN $lk ON d.doc_id = $lk.id),
           |keep AS (SELECT cluster, source FROM (
           |  SELECT cluster, source,
           |    row_number() OVER (PARTITION BY cluster
           |      ORDER BY source ASC NULLS FIRST, doc_id ASC) AS rn
           |  FROM cl) WHERE rn = 1),
           |k AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_keepers
           |  FROM keep GROUP BY source),
           |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           |  FROM cl GROUP BY source)
           |SELECT tot.source, tot.n_docs,
           |  COALESCE(k.n_keepers, 0) AS n_keepers,
           |  tot.n_docs - COALESCE(k.n_keepers, 0) AS n_evicted
           |FROM tot LEFT JOIN k ON tot.source = k.source""".stripMargin
      },
      "cross-source keeper selection: near-dup clusters -> source-priority keeper -> per-source attrition report (north-star: multi-source dedup)"),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020: split each
    // language's corpus into head/middle/tail terciles by LM perplexity
    // — the standard pre-training quality triage). Thresholds are EXACT
    // value-based terciles derived by cumulative count over the
    // (lang, milli_bits_per_token) HISTOGRAM, not ntile over the corpus:
    // t1 = min mbpt with 3·cum ≥ n (= percentile_disc(1/3)), so ties get
    // one bucket deterministically in both engines and — the scale
    // point — the corpus-sized frame never enters a window. The only
    // windows run on the histogram (≤ distinct score values per lang),
    // the two thresholds per lang broadcast back, and the labeling pass
    // is map-side. A per-lang ntile would sort each language's full
    // corpus inside single window partitions — exactly what a 100 TB
    // run cannot do.
    Q("d44_ccnet_buckets",
      (s, dir) => ccnetBucketsDf(t(s, dir, "documents")),
      Some(s"""WITH $dSurprisal,
              |sc AS (SELECT d.doc_id, d.lang, s.milli_bits_per_token AS mbpt
              |  FROM scored s JOIN documents d USING (doc_id)),
              |hist AS (SELECT lang, mbpt, COUNT(*) AS c FROM sc GROUP BY 1, 2),
              |cum AS (SELECT lang, mbpt,
              |    SUM(c) OVER (PARTITION BY lang ORDER BY mbpt) AS cum,
              |    SUM(c) OVER (PARTITION BY lang) AS n
              |  FROM hist),
              |t1 AS (SELECT lang, MIN(mbpt) AS t1 FROM cum WHERE cum * 3 >= n GROUP BY lang),
              |t2 AS (SELECT lang, MIN(mbpt) AS t2 FROM cum WHERE cum * 3 >= n * 2 GROUP BY lang)
              |SELECT sc.doc_id, sc.lang, sc.mbpt AS milli_bits_per_token,
              |  CASE WHEN sc.mbpt <= t1.t1 THEN 'head'
              |       WHEN sc.mbpt <= t2.t2 THEN 'middle'
              |       ELSE 'tail' END AS ppl_bucket
              |FROM sc JOIN t1 USING (lang) JOIN t2 USING (lang)""".stripMargin),
      "CCNet head/middle/tail perplexity terciles per language, histogram-derived exact thresholds (north-star: quality triage)"),

    // Containment dedup — the SUBSET-duplicate detector Jaccard misses:
    // a short doc fully quoted inside a long one has containment
    // |A∩B| / min(|A|,|B|) ≈ 1 while its Jaccard ≈ |A|/|B| can sit far
    // below any dedup threshold (the d20 verdict would keep both).
    // Candidates come from the SAME capped LSH band shuffle as d20 (one
    // signature pass, one bucket exchange, no self-join) — NOTE the cap
    // divergence d20's docs pin under `lsh_bucket_truncation`: the
    // Spark side truncates a band bucket at maxBucket=2048 members
    // while the DuckDB twin enumerates band pairs UNCAPPED, so a
    // degenerate bucket beyond the cap would fail this gate BY DESIGN
    // (triage as the known cap, not a bug; no testdata bucket comes
    // near 2048). The exact shingle-set check reuses d20's
    // verification-join discipline:
    // narrow-build SHJ on the 16-byte pair rows, spillable SMJ for the
    // second wide side, zero broadcasts (the sf10-OOM-proofed shape).
    // Verdict: containment ≥ 0.8 evicts the SMALLER set (tie → the
    // larger doc_id), mirroring d13's min-keeper rule.
    Q("d45_containment_dedup",
      (s, dir) => {
        val sets = shingleSets(t(s, dir, "documents"))
        val contain = pairInter / least(size(col("sa")), size(col("sb"))).cast("double")
        verifyJoin(lshCandidatePairs(setSignatures(sets)), sets)
          .select(col("doc_id_a"), col("doc_id_b"),
            round(contain, 4).as("containment"),
            when(contain < 0.8, lit(null).cast("long"))
              .when(size(col("sa")) < size(col("sb")), col("doc_id_a"))
              .when(size(col("sb")) < size(col("sa")), col("doc_id_b"))
              .otherwise(greatest(col("doc_id_a"), col("doc_id_b")))
              .as("evict_id"))
      },
      Some {
        s"""${dMinhashWith(keepSh = true)},
           |${dPairs()},
           |$dSets,
           |v AS (SELECT p.doc_id_a, p.doc_id_b,
           |    len(sa.ss) AS la, len(sb.ss) AS lb,
           |    CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
           |      CAST(least(len(sa.ss), len(sb.ss)) AS DOUBLE) AS c
           |  FROM pairs p
           |  JOIN sets sa ON p.doc_id_a = sa.doc_id
           |  JOIN sets sb ON p.doc_id_b = sb.doc_id)
           |SELECT doc_id_a, doc_id_b, ROUND(c, 4) AS containment,
           |  CASE WHEN c < 0.8 THEN NULL
           |       WHEN la < lb THEN doc_id_a
           |       WHEN lb < la THEN doc_id_b
           |       ELSE greatest(doc_id_a, doc_id_b) END AS evict_id
           |FROM v""".stripMargin
      },
      "containment dedup: LSH candidates -> exact shingle containment -> evict the contained doc (north-star: subset-dup removal)")
  )
}
