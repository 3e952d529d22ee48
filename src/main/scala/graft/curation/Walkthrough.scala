package graft.curation

/** The user-facing front door of the curation library: ONE end-to-end
  * configuration that exercises every pipeline stage on the standard
  * `documents` table, documented line-by-line in WALKTHROUGH.md and
  * executed verbatim by CurationPipelineSpec ("walkthrough config runs
  * end-to-end"), so the doc can never drift from a config that works.
  *
  * Run it yourself:
  * {{{
  * sbt "runMain graft.curation.WalkthroughMain /root/testdata/sf0.1 /tmp/curation-demo"
  * }}}
  * then browse the stage artifacts under the output dir — every stage
  * is a replayable Parquet dir (plus the 00_report observability pair),
  * and a re-run with `resume = true` picks up after the last `_SUCCESS`
  * marker instead of recomputing.
  */
object Walkthrough {
  import CurationPipeline._

  /** The walkthrough configuration — see WALKTHROUGH.md for the
    * stage-by-stage tour. Thresholds are chosen to be selective but
    * not degenerate on the synthetic corpus (every stage keeps a
    * non-trivial survivor set at sf0.001 and up — spec-asserted). */
  val config: Config = Config(
    // stage 1 gates: length, repetition, rules, fluency. (The
    // stop-fraction boilerplate gate is deliberately NOT set: the
    // synthetic corpus draws from a ≤50-word vocabulary, so every doc
    // is 100% top-50 tokens and ANY threshold empties the corpus — on
    // real data pair stopTopK with maxStopFrac ≈ 0.7. The stoplist
    // stage still runs and writes its artifact.)
    minTokens = 10,
    maxDupTokenFrac = 0.6,
    stopTopK = Some(50),
    maxSurprisalMilliBits = Some(20000L),
    gopherRules = true,
    // stage 3: Bloom-filter benchmark decontamination (streaming-safe)
    benchMod = 20L,
    decontam = BloomGrams(fpp = 0.001),
    // stage 4a: C4-style duplicate-span removal after near-dup dedup
    spanDedup = true,
    // stages 5-8: chunks, packing offsets, train order, BPE handoff
    chunk = true,
    packCtx = Some(512L),
    orderShards = Some(8),
    bpeMerges = Some(8),
    // observability reports of the RAW corpus + stage resume
    corpusReport = true,
    resume = true)

  /** The walkthrough's post-dedup selection: a seeded, exactly
    * reproducible 50% hash-Bernoulli sample of the survivors. */
  val selection: Selection = RateSample(0.5)
}

/** `runMain graft.curation.WalkthroughMain <sfDir> <outDir>` — executes
  * [[Walkthrough.config]] against `<sfDir>/documents.parquet` and
  * prints the per-stage row counts. */
object WalkthroughMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/curation-demo"
    val spark = graft.LocalSession()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = System.nanoTime()
    val counts = CurationPipeline.run(spark, docs, outDir,
      cfg = Walkthrough.config, selection = Walkthrough.selection)
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"input docs: ${docs.count()}%d")
    counts.foreach { case (stage, n) => println(f"  $stage%-14s $n%7d rows") }
    println(f"wall: $dt%.1f s -> $outDir")
    spark.stop()
  }
}
