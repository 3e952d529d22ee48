package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Structured-Streaming mode: the SAME bucketAgg transformation must
  * produce identical results on a stream (micro-batched via MemoryStream)
  * and on the equivalent batch DataFrame. */
case class StreamEv(event_id: Long, ts: Timestamp, event_type: String, value: Double)
case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)
case class StreamVec(vec_id: Long, embedding: Seq[Float], label: Int)
case class StreamSrcDoc(doc_id: Long, source: String, text: String, ts: Timestamp)
case class StreamLangDoc(doc_id: Long, lang: String, text: String, ts: Timestamp)

class StreamingSpec extends SparkSpec {
  private type Ev = StreamEv
  private val Ev = StreamEv

  private def mkEvents: Seq[Ev] = {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 100).map { i =>
      Ev(i.toLong, new Timestamp(base + i * 5 * 60 * 1000L), // every 5 min
        if (i % 3 == 0) "click" else "view", i.toDouble)
    }
  }

  test("streaming bucketAgg equals batch bucketAgg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents

    val stream = MemoryStream[StreamEv]
    val agg = StreamingBuckets.bucketAgg(stream.toDF())
    val query = agg.writeStream
      .format("memory").queryName("buckets")
      .outputMode("complete").start()
    try {
      // two micro-batches — state must carry across
      stream.addData(events.take(60))
      query.processAllAvailable()
      stream.addData(events.drop(60))
      query.processAllAvailable()
      val streamed = spark.table("buckets")
        .select(col("event_type"), col("bucket_start"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .toSet

      val batch = StreamingBuckets.bucketAgg(events.toDF())
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally query.stop()
  }

  test("sessionize: in-batch gap closes a session; timeout closes the tail") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(min: Long) = new Timestamp(base + min * 60000L)

    val stream = MemoryStream[StreamingBuckets.SessEvent]
    val query = StreamingBuckets.sessionize(stream.toDS(), gapMinutes = 30,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: 3 events 0/10/20 min, then a 90-min gap, then 2 events —
      // the gap closes session 1 INSIDE the batch
      stream.addData(Seq(0L, 10L, 20L, 110L, 115L)
        .map(m => StreamingBuckets.SessEvent(1L, at(m))))
      query.processAllAvailable()
      val afterBatch1 = spark.table("sessions").as[StreamingBuckets.Session].collect()
      assert(afterBatch1.toSeq === Seq(StreamingBuckets.Session(1L, 3, 20L)))

      // much later event advances the watermark past 115+30+10 → the
      // tail session (2 events, 5 min) closes via event-time timeout
      stream.addData(Seq(StreamingBuckets.SessEvent(2L, at(600L))))
      query.processAllAvailable()
      stream.addData(Seq(StreamingBuckets.SessEvent(2L, at(610L))))
      query.processAllAvailable()
      val sessions = spark.table("sessions").as[StreamingBuckets.Session]
        .collect().toSet
      assert(sessions.contains(StreamingBuckets.Session(1L, 2, 5L)),
        s"tail session not closed: $sessions")
    } finally query.stop()
  }

  test("sessionize: within-watermark LATE event extends session without regressing state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(min: Long) = new Timestamp(base + min * 60000L)
    val stream = MemoryStream[StreamingBuckets.SessEvent]
    val query = StreamingBuckets.sessionize(stream.toDS(), gapMinutes = 30,
        watermark = "60 minutes")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      stream.addData(Seq(StreamingBuckets.SessEvent(1L, at(20L)),
        StreamingBuckets.SessEvent(1L, at(40L))))
      query.processAllAvailable()
      // LATE event at minute 10 (within the 60-min watermark) must extend
      // the open session BACKWARD, not regress lastUs / crash the query
      stream.addData(Seq(StreamingBuckets.SessEvent(1L, at(10L))))
      query.processAllAvailable()
      // advance watermark far past the session to force the timeout close
      stream.addData(Seq(StreamingBuckets.SessEvent(2L, at(500L))))
      query.processAllAvailable()
      stream.addData(Seq(StreamingBuckets.SessEvent(2L, at(510L))))
      query.processAllAvailable()
      val sessions = spark.table("late_sessions")
        .as[StreamingBuckets.Session].collect().toSet
      // envelope 10..40 → 3 events, 30 minutes
      assert(sessions.contains(StreamingBuckets.Session(1L, 3, 30L)),
        s"late-extended session wrong: $sessions")
    } finally query.stop()
  }

  test("MinHash sketch aggregates over a stream == batch signature") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val shingles = Seq("a b c", "b c d", "c d e", "d e f", "e f g")
      .map(s => (1L, s))
    val stream = MemoryStream[(Long, String)]
    val agg = stream.toDF().toDF("doc_id", "shingle")
      .groupBy(org.apache.spark.sql.functions.col("doc_id"))
      .agg(graft.functions.MinHashAgg.minhashCol(
        org.apache.spark.sql.functions.col("shingle")))
    val query = agg.writeStream.format("memory").queryName("mh_stream")
      .outputMode("complete").start()
    try {
      // two micro-batches: the sketch must MERGE across batches
      stream.addData(shingles.take(2))
      query.processAllAvailable()
      stream.addData(shingles.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("mh_stream")
        .head.getAs[scala.collection.Seq[java.lang.Long]]("mh_sig")
      val batch = shingles.toDF("doc_id", "shingle")
        .groupBy(org.apache.spark.sql.functions.col("doc_id"))
        .agg(graft.functions.MinHashAgg.minhashCol(
          org.apache.spark.sql.functions.col("shingle")))
        .head.getAs[scala.collection.Seq[java.lang.Long]]("mh_sig")
      assert(streamed === batch)
    } finally query.stop()
  }

  test("nearDedupStream: same-signature docs collapse; shingle-less docs all pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.nearDedupStream(stream.toDF())
      .writeStream.format("memory").queryName("neardedup")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        StreamDoc(1L, "the quick brown fox jumps over the lazy dog", at(0)),
        StreamDoc(3L, "completely different text about spark partitions here", at(1))))
      query.processAllAvailable()
      stream.addData(Seq(
        // identical text in a LATER batch → identical signature → dropped
        StreamDoc(2L, "the quick brown fox jumps over the lazy dog", at(2)),
        // <3 tokens → no shingles → unique key → BOTH survive
        StreamDoc(4L, "hi there", at(3)),
        StreamDoc(5L, "hi there", at(4))))
      query.processAllAvailable()
      val kept = spark.table("neardedup").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(kept === Seq(1L, 3L, 4L, 5L))
    } finally query.stop()
  }

  test("rateSampleStream == batch rate sample over the same docs (any batch split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    val docs = (1L to 400L).map(i => StreamDoc(i, s"doc number $i", at(i % 7)))
    val th = graft.queries.Docs.hexThreshold(0.25)
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.rateSampleStream(stream.toDF(), th)
      .writeStream.format("memory").queryName("ratesample")
      .outputMode("append").start()
    try {
      // arbitrary trigger split: the verdict must not depend on it
      stream.addData(docs.take(150))
      query.processAllAvailable()
      stream.addData(docs.drop(150))
      query.processAllAvailable()
      val streamed = spark.table("ratesample").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batch = graft.queries.Docs.rateSampleDf(docs.toDF(), th)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.size < docs.size)
    } finally query.stop()
  }

  test("gopherGateStream == batch d37 keep set (any batch split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    // mix of keepers (stopworded, diverse, 10+ tokens) and rule-breakers
    val docs = (1L to 60L).map { i =>
      val text =
        if (i % 3 == 0) s"the a quick brown fox t$i jumps over lazy dogs near riverbank"
        else if (i % 3 == 1) Seq.fill(12)("spam").mkString(" ")
        else s"short doc $i"
      StreamDoc(i, text, at(i % 5))
    }
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.gopherGateStream(stream.toDF())
      .writeStream.format("memory").queryName("gophergate")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(25))
      query.processAllAvailable()
      stream.addData(docs.drop(25))
      query.processAllAvailable()
      val streamed = spark.table("gophergate").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batch = graft.queries.Docs.gopherRulesDf(docs.toDF())
        .filter(col("keep") === 1L)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.size < docs.size)
    } finally query.stop()
  }

  test("hashedScoreStream == batch d38 threshold cut (any batch split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    val docs = (1L to 200L).map(i => StreamDoc(i, s"doc number $i with words w$i", at(i % 7)))
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.hashedScoreStream(stream.toDF(), 0L)
      .writeStream.format("memory").queryName("hashedgate")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(80))
      query.processAllAvailable()
      stream.addData(docs.drop(80))
      query.processAllAvailable()
      val streamed = spark.table("hashedgate").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batch = graft.queries.Docs.hashedScoreDf(docs.toDF())
        .filter(col("score_milli") >= 0L)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.size < docs.size)
    } finally query.stop()
  }

  test("decontamStream == batch decontam filter; real hits never survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    // benchmark suite: two "eval" documents; their 5-grams define the
    // contamination set
    val benchDocs = Seq(
      "the capital of france is paris and everyone knows it",
      "to be or not to be that is the question")
    val bench = graft.queries.Docs.benchBloomBytes(
      benchDocs.toDF("text")
        .withColumn("ws", graft.queries.Docs.words(col("text")))
        .select(col("ws"),
          explode(sequence(lit(1), greatest(size(col("ws")) - 4, lit(0)))).as("i"))
        .select(concat_ws(" ",
          element_at(col("ws"), col("i")), element_at(col("ws"), col("i") + 1),
          element_at(col("ws"), col("i") + 2), element_at(col("ws"), col("i") + 3),
          element_at(col("ws"), col("i") + 4)).as("gram")),
      expectedItems = 100L)
    val docs = Seq(
      // contains a bench 5-gram verbatim -> MUST be dropped
      StreamDoc(1L, "i read that the capital of france is paris yesterday", at(0)),
      StreamDoc(2L, "completely unrelated text about spark shuffle partitions", at(1)),
      // another verbatim bench window, later trigger
      StreamDoc(3L, "he said to be or not to be and left", at(2)),
      StreamDoc(4L, "short doc", at(3)), // <5 tokens -> always survives
      StreamDoc(5L, "clean corpus text with many plain ordinary words inside", at(4)))
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.decontamStream(stream.toDF(), bench)
      .writeStream.format("memory").queryName("decontam")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(2))
      query.processAllAvailable()
      stream.addData(docs.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("decontam").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batch = graft.queries.Docs.decontamFilterDf(docs.toDF(), bench)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // trigger split must not change the verdict
      assert(streamed === batch)
      // one-sided error: both contaminated docs are gone, no exceptions
      assert(!streamed.contains(1L) && !streamed.contains(3L))
      // deterministic fixture: no false positive fires here
      assert(streamed === Seq(2L, 4L, 5L))
    } finally query.stop()
  }

  test("crossNeardupStream == batch filter; signature-identical eval docs never survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    // the reference (eval) snapshot: two docs, one of them short
    // (shingle-less — must NOT poison the filter)
    val refBloom = graft.queries.Docs.refSigBloomBytes(
      Seq("the capital of france is paris and everyone knows it",
        "tiny doc").toDF("text"),
      expectedItems = 100L)
    val docs = Seq(
      // signature-identical to ref doc 1 (verbatim) -> MUST be dropped
      StreamDoc(1L, "the capital of france is paris and everyone knows it", at(0)),
      StreamDoc(2L, "completely unrelated text about spark shuffle partitions", at(1)),
      // short doc: NULL signature -> always survives even though the
      // ref set also contains a short doc
      StreamDoc(3L, "tiny doc", at(2)),
      StreamDoc(4L, "clean corpus text with many plain ordinary words inside", at(3)))
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.crossNeardupStream(stream.toDF(), refBloom)
      .writeStream.format("memory").queryName("crossneardup")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(2))
      query.processAllAvailable()
      stream.addData(docs.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("crossneardup").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batch = graft.queries.Docs.crossNeardupFilterDf(docs.toDF(), refBloom)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // trigger split must not change the verdict
      assert(streamed === batch)
      assert(streamed === Seq(2L, 3L, 4L))
    } finally query.stop()
  }

  test("spanDedupStream == batch filter; snapshot spans never survive, fresh spans do") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    def blk(p: String) = (1 to 16).map(i => s"$p$i").mkString(" ")
    val A = blk("a"); val B = blk("b"); val F = blk("f")
    val P = (1 to 5).map(i => s"p$i").mkString(" ")   // partial tail block
    // the batch snapshot owns blocks A, B and the partial block "t1..t5"
    val keeperBloom = graft.queries.Docs.spanKeeperBloomBytes(
      Seq((100L, s"$A $B"), (101L, "t1 t2 t3 t4 t5")).toDF("doc_id", "text"),
      expectedItems = 100L)
    val docs = Seq(
      StreamDoc(1L, s"$A $F", at(0)),        // snapshot block cut, fresh kept
      StreamDoc(2L, s"$A $B", at(1)),        // everything cut -> disappears
      StreamDoc(3L, s"$F $P", at(2)),        // fully fresh (incl. partial tail)
      StreamDoc(4L, "t1 t2 t3 t4 t5", at(3)))// snapshot PARTIAL block -> gone
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.spanDedupStream(stream.toDF(), keeperBloom)
      .writeStream.format("memory").queryName("spandedup")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(2))
      query.processAllAvailable()
      stream.addData(docs.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("spandedup")
        .select("doc_id", "text", "n_chars")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      val batch = graft.queries.Docs.spanDedupFilterDf(docs.toDF(), keeperBloom)
        .select("doc_id", "text", "n_chars")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      // trigger split must not change the rebuilds
      assert(streamed === batch)
      assert(streamed.map(_._1) === Seq(1L, 3L), s"kept set wrong: $streamed")
      // doc 1 rebuilt to JUST its fresh block; doc 3 untouched
      assert(streamed.head._2 === F)
      assert(streamed(1)._2 === s"$F $P")
      assert(streamed.forall { case (_, t, n) => n === t.length.toLong })
    } finally query.stop()
  }

  test("bpeEncodeStream == batch d41 encoding under a fixed merge snapshot (any batch split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    val docs = (1L to 40L).map { i =>
      val text =
        if (i % 3 == 0) s"ththth the then aaaa doc$i"
        else if (i % 3 == 1) s"hehe thethe w$i"
        else s"Short X UPPER Ünïcödé $i"
      StreamDoc(i, text, at(i % 5))
    }
    // tokenizer TRAINING is a batch job: mine the snapshot once, ship
    // the literal merge table to the stream
    val merges = graft.queries.Docs.bpeMergesEligibleDf(docs.toDF(), 8)
      .collect().map(_.getString(0)).toSeq
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.bpeEncodeStream(stream.toDF(), merges)
      .writeStream.format("memory").queryName("bpeencode")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(17))
      query.processAllAvailable()
      stream.addData(docs.drop(17))
      query.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "n_words", "chars_total", "syms_total", "enc_fp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .sortBy(_._1).toSeq
      val streamed = rows(spark.table("bpeencode"))
      val batch = rows(graft.queries.Docs.bpeApplyDf(docs.toDF()))
      assert(streamed === batch)
      // merges really applied: compression on the mergeable docs
      assert(streamed.filter(_._1 % 3 == 0).forall(r => r._4 < r._3))
    } finally query.stop()
  }

  test("redactStream == batch redaction; PII never survives, counts exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    val docs = Seq(
      StreamDoc(1L, "mail bob.smith@corp.example.org or call +1-555-0100 now", at(0)),
      StreamDoc(2L, "no pii in this document at all", at(1)),
      StreamDoc(3L, "two mails a@b.io c@d.net one phone 555-1234-777", at(2)))
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.redactStream(stream.toDF())
      .writeStream.format("memory").queryName("redact")
      .outputMode("append").start()
    try {
      // arbitrary trigger split: per-row map must not care
      stream.addData(docs.take(1))
      query.processAllAvailable()
      stream.addData(docs.drop(1))
      query.processAllAvailable()
      val streamed = spark.table("redact")
        .select("doc_id", "text", "n_emails", "n_phones")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      val batch = graft.queries.Docs.redactDf(docs.toDF())
        .select("doc_id", "text", "n_emails", "n_phones")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      assert(streamed === batch)
      assert(streamed(1L) === (("mail <EMAIL> or call <PHONE> now", 1L, 1L)))
      assert(streamed(2L) === (("no pii in this document at all", 0L, 0L)))
      assert(streamed(3L)._2 === 2L && streamed(3L)._3 === 1L)
      assert(!streamed.values.exists(v => v._1.contains("@") || v._1.contains("555-0100")))
    } finally query.stop()
  }

  test("semanticDecontamStream == batch keep set; copies of reference vectors never survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (10L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val vecs = Seq(
      StreamVec(1L, Seq(1.0f, 0.0f), 1),   // identical to ref 0 → dropped
      StreamVec(2L, Seq(0.0f, 1.0f), 1),   // identical to ref 10 → dropped
      StreamVec(3L, Seq(-1.0f, 0.0f), 1),  // opposite/orthogonal → kept
      StreamVec(4L, Seq(0.0f, -1.0f), 1))
    val stream = MemoryStream[StreamVec]
    val query = StreamingBuckets.semanticDecontamStream(stream.toDF(), ref)
      .writeStream.format("memory").queryName("semdecon")
      .outputMode("append").start()
    try {
      // arbitrary trigger split: the stateless anti join must not care
      stream.addData(vecs.take(2))
      query.processAllAvailable()
      stream.addData(vecs.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("semdecon").select("vec_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batch = graft.queries.Sim.semanticDecontamKeepDf(vecs.toDF(), ref)
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(streamed === batch)
      assert(streamed === Seq(3L, 4L))
    } finally query.stop()
  }

  test("dedupStream drops duplicate event_ids within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamEv]
    val query = StreamingBuckets.dedupStream(stream.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      val evs = mkEvents.take(10)
      stream.addData(evs ++ evs) // duplicates in one batch
      query.processAllAvailable()
      assert(spark.table("dedup").count() === 10)
    } finally query.stop()
  }

  test("ccnetBucketStream == batch d44 under a frozen model+threshold snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    // two languages, graded vocabulary rarity so the terciles are real
    val common = "the of and to in"
    val snap = Seq(
      StreamLangDoc(1L, "en", s"$common $common $common", at(0)),
      StreamLangDoc(2L, "en", s"$common alpha beta alpha beta", at(0)),
      StreamLangDoc(3L, "en", s"$common gamma delta epsilon zeta", at(0)),
      StreamLangDoc(4L, "en", "eta theta iota kappa lambda mu", at(0)),
      StreamLangDoc(5L, "en", s"alpha beta $common", at(0)),
      StreamLangDoc(6L, "en", "nu xi omicron pi rho sigma", at(0)),
      StreamLangDoc(7L, "fr", "le la les le la les", at(0)),
      StreamLangDoc(8L, "fr", "le la un deux un deux", at(0)),
      StreamLangDoc(9L, "fr", "trois quatre cinq six sept huit", at(0)),
      StreamLangDoc(10L, "fr", "le la les un deux trois", at(0)),
      StreamLangDoc(11L, "fr", "neuf dix onze douze treize", at(0)),
      StreamLangDoc(12L, "fr", "le le le la la la les", at(0)))
    val snapDF = snap.toDF()
    // model training + tercile cut are batch jobs; both ship as literals
    val (terms, counts, nTotal) = graft.queries.Docs.ccnetModelSnapshot(snapDF)
    val thresholds = graft.queries.Docs.ccnetThresholdSnapshot(snapDF)
    assert(thresholds.map(_._1).toSeq === Seq("en", "fr"))
    val extra = Seq(
      // OOV tokens under a known lang: scored (count-1 convention), labeled
      StreamLangDoc(100L, "en", "zzzq qqqz wwwx vvvy uuuw", at(1)),
      // language the snapshot never cut thresholds for: NULL bucket
      StreamLangDoc(101L, "zz", s"$common alpha beta", at(1)))
    val stream = MemoryStream[StreamLangDoc]
    val query = StreamingBuckets.ccnetBucketStream(
        stream.toDF(), terms, counts, nTotal, thresholds)
      .writeStream.format("memory").queryName("ccnetbuckets")
      .outputMode("append").start()
    try {
      stream.addData(snap.take(7))
      query.processAllAvailable()
      stream.addData(snap.drop(7) ++ extra)
      query.processAllAvailable()
      val rows = spark.table("ccnetbuckets")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3)))
      val streamed = rows.filter(_._1 <= 12L).sortBy(_._1).toSeq
      // snapshot docs relabel EXACTLY as the batch d44 labeled them:
      // every token is in-model (count-1 terms score as misses, bits(1))
      val batch = graft.queries.Docs.ccnetBucketsDf(snapDF)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
      assert(streamed === batch)
      assert(streamed.map(_._4).distinct.sorted === Seq("head", "middle", "tail"))
      val oov = rows.find(_._1 === 100L).get
      assert(oov._4 !== null)
      assert(rows.find(_._1 === 101L).get._4 === null)
    } finally query.stop()
  }

  test("streaming snapshot entry point REQUIRES a positive term cap (no unbounded driver collect)") {
    import spark.implicits._
    val snap = Seq((1L, "en", "the the of and")).toDF("doc_id", "lang", "text")
    // the streaming serving path must force the cap decision: uncapped
    // collects of a 100 TB corpus vocabulary exceed driver memory
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingBuckets.ccnetModelSnapshot(snap, 0)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingBuckets.ccnetModelSnapshot(snap, -5)
    }
    val (terms, counts, n) =
      graft.streaming.StreamingBuckets.ccnetModelSnapshot(snap, 1)
    assert(terms.length <= 1 && counts.length === terms.length && n === 4L)
    // delegates to the capped Docs compiler exactly
    val (dTerms, dCounts, dN) =
      graft.queries.Docs.ccnetModelSnapshot(snap, Some(1))
    assert(terms.toSeq === dTerms.toSeq && counts.toSeq === dCounts.toSeq && n === dN)
  }

  test("ccnetModelSnapshot maxTerms cap: bounded collect, exact per-occurrence drift, opaque plan holder") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def bits(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val snap = Seq(
      (1L, "en", "the the the the of of of and and to"),
      (2L, "en", "the of and to in in alpha alpha beta beta"),
      (3L, "en", "the of gamma gamma delta delta solo")).toDF("doc_id", "lang", "text")
    val (terms, counts, nTotal) = graft.queries.Docs.ccnetModelSnapshot(snap)
    val k = 3
    assert(terms.length > k)
    val (cTerms, cCounts, cN) = graft.queries.Docs.ccnetModelSnapshot(snap, Some(k))
    assert(cN === nTotal) // n_total is the corpus constant, cap-invariant
    assert(cTerms.length === k)
    // kept = top-k by (count DESC, term ASC), re-sorted by term
    val byCount = terms.zip(counts).sortBy { case (t, c) => (-c, t) }.take(k)
    assert(cTerms.zip(cCounts).toSeq === byCount.sortBy(_._1).toSeq)
    // exact drift: a pruned term with true count c scores bits(1)=1
    // instead of bits(c) -> +(bits(c)-1) per occurrence; bounded by the
    // smallest kept count
    val probe = Seq((1L, "the of alpha alpha gamma zzz")).toDF("doc_id", "text")
    def score(ts: Array[String], cs: Array[Long]): Long = probe
      .select(graft.functions.SurprisalExprs.snapshotSurprisal(
        col("text"), ts.toSeq, cs.toSeq, nTotal).getField("surprisal_bits"))
      .head.getLong(0)
    val full = score(terms, counts)
    val capped = score(cTerms, cCounts)
    val pruned = terms.zip(counts).filterNot { case (t, _) => cTerms.contains(t) }.toMap
    val occs = "the of alpha alpha gamma zzz".split(" ")
    val expectedDrift = occs.flatMap(pruned.get).map(c => bits(c) - 1).sum
    assert(capped - full === expectedDrift)
    val cK = cCounts.min
    occs.flatMap(pruned.get).foreach(c => assert(bits(c) - 1 <= bits(cK) - 1))
    // opaque holder: canonical equality is by content digest; the plan
    // string carries the digest, never the vocabulary
    val sharedChild = org.apache.spark.sql.functions.lit("probe")
    val e1 = graft.functions.SurprisalExprs.snapshotSurprisal(
      sharedChild, terms.toSeq, counts.toSeq, nTotal)
    val e2 = graft.functions.SurprisalExprs.snapshotSurprisal(
      sharedChild, terms.toSeq, counts.toSeq, nTotal)
    val e3 = graft.functions.SurprisalExprs.snapshotSurprisal(
      sharedChild, cTerms.toSeq, cCounts.toSeq, nTotal)
    def expr(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftShim.expression(c)
    assert(expr(e1).canonicalized === expr(e2).canonicalized)
    assert(expr(e1).canonicalized !== expr(e3).canonicalized)
    val rendered = expr(e1).toString
    assert(rendered.contains("model(md5="))
    assert(!rendered.contains("alpha"))
  }

  test("keeperPriorityStream: snapshot keeper at better-or-equal rank drops; outranking doc passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    val T1 = "the quick brown fox jumps over the lazy dog tonight"
    val T2 = "completely different prose about spark shuffle partitions here"
    val T3 = "fresh new never before seen text streaming in today"
    // snapshot: docs 1(b) and 2(c) are a near-dup cluster -> keeper
    // source "b"; doc 3(a) is a singleton -> keeper source "a"
    val snap = Seq(
      StreamSrcDoc(1L, "b", T1, at(0)),
      StreamSrcDoc(2L, "c", T1, at(0)),
      StreamSrcDoc(3L, "a", T2, at(0)))
    val ranked = graft.queries.Docs.keeperSigBloomsByRank(snap.toDF())
    assert(ranked.map(_._1) === Seq("a", "b"))
    val incoming = Seq(
      StreamSrcDoc(10L, "c", T1, at(1)), // loses to keeper "b" -> dropped
      StreamSrcDoc(11L, "a", T1, at(2)), // outranks keeper "b" -> kept
      StreamSrcDoc(12L, "0", T2, at(3)), // below every snapshot rank -> kept
      StreamSrcDoc(13L, "z", T2, at(4)), // loses to keeper "a" -> dropped
      StreamSrcDoc(14L, "c", T3, at(5)), // fresh signature -> kept
      StreamSrcDoc(15L, "c", "hi there", at(6))) // shingle-less -> kept
    val stream = MemoryStream[StreamSrcDoc]
    val query = StreamingBuckets.keeperPriorityStream(stream.toDF(), ranked)
      .writeStream.format("memory").queryName("keeperprio")
      .outputMode("append").start()
    try {
      stream.addData(incoming.take(3))
      query.processAllAvailable()
      stream.addData(incoming.drop(3))
      query.processAllAvailable()
      val streamed = spark.table("keeperprio").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batch = graft.queries.Docs.keeperPriorityFilterDf(incoming.toDF(), ranked)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(streamed === batch)
      assert(streamed === Seq(11L, 12L, 14L, 15L))
    } finally query.stop()
  }

  test("containmentDedupStream: contained docs drop, mosaics at tau drop, fresh/short docs pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = System.currentTimeMillis()
    def at(min: Long) = new Timestamp(base + min * 60000L)
    val A = (1 to 20).map(i => s"a$i").mkString(" ")
    val B = (1 to 10).map(i => s"b$i").mkString(" ")
    val bloom = graft.queries.Docs.containmentBloomBytes(
      Seq((1L, A), (2L, B)).toDF("doc_id", "text"), expectedItems = 1000L)
    val incoming = Seq(
      // a verbatim subrange of A: containment 1.0 -> dropped
      StreamDoc(20L, (1 to 10).map(i => s"a$i").mkString(" "), at(0)),
      // 1 of 8 shingles hits -> kept
      StreamDoc(21L, "a1 a2 a3 x1 x2 x3 x4 x5 x6 x7", at(1)),
      // shingle-less -> kept
      StreamDoc(22L, "hi there", at(2)),
      // A+B mosaic: 8 of 10 shingles hit = exactly tau 0.8 -> dropped
      // (corpus-union containment is the disclosed strengthening)
      StreamDoc(23L, (1 to 6).map(i => s"a$i").mkString(" ") + " " +
        (1 to 6).map(i => s"b$i").mkString(" "), at(3)),
      // fully fresh -> kept
      StreamDoc(24L, "nothing here was ever in the snapshot corpus", at(4)))
    val stream = MemoryStream[StreamDoc]
    val query = StreamingBuckets.containmentDedupStream(stream.toDF(), bloom)
      .writeStream.format("memory").queryName("containdedup")
      .outputMode("append").start()
    try {
      stream.addData(incoming.take(2))
      query.processAllAvailable()
      stream.addData(incoming.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("containdedup").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batch = graft.queries.Docs.containmentFilterDf(incoming.toDF(), bloom)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(streamed === batch)
      assert(streamed === Seq(21L, 22L, 24L))
    } finally query.stop()
  }
}
