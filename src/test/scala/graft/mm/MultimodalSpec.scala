package graft.mm

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Multimodal processing: payload column, partition-parallel decoders,
  * bilinear resize, video frame decode — schema, batch shape, and the
  * per-row error channel are the contract. The m01 gate's fake-decode
  * metadata formula lives on in [[fakeDecode]] below as a test-local
  * template of the mapPartitions plumbing (the library surface itself
  * only ships real decoders — see Multimodal's decoder matrix). */
object MultimodalSpec {
  /** Encoder target for the test-local fake decode (top-level: Spark
    * cannot encode an inner class of the suite). */
  final case class FakeMeta(
      doc_id: Long, n_bytes: Long, sha: String,
      width: Int, height: Int, ok: Boolean, err: String)
}

class MultimodalSpec extends SparkSpec {
  import MultimodalSpec.FakeMeta

  private lazy val docs = {
    import spark.implicits._
    Seq((1L, "hello world"), (2L, ""), (3L, "a longer payload of bytes"))
      .toDF("doc_id", "text")
  }

  test("withPayload attaches binary + metadata columns") {
    val df = Multimodal.withPayload(docs)
    assert(df.schema("payload").dataType.typeName === "binary")
    val m = df.select(col("doc_id"), col("n_bytes")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === 11L && m(2L) === 0L)
  }

  /** Test-local fake decode: the m01 gate's deterministic metadata
    * formula over the withPayload columns, in the same mapPartitions
    * batch shape as the real decoders — pins the plumbing contract
    * (error channel, per-partition batching) without shipping a stub
    * in the library surface. */
  private def fakeDecode(df: org.apache.spark.sql.DataFrame) = {
    val enc = org.apache.spark.sql.Encoders.product[FakeMeta]
    df.select(col("doc_id"), col("payload"), col("n_bytes"), col("content_sha"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val n = r.getLong(2)
          val sha = r.getString(3)
          if (bytes == null || bytes.isEmpty)
            FakeMeta(id, 0L, sha, 0, 0, ok = false, err = "empty payload")
          else
            FakeMeta(id, n, sha,
              (n % 320 + 32).toInt, (n % 240 + 32).toInt, ok = true, err = "")
        }
      }(enc)
  }

  test("fake decode template: deterministic metadata with per-row error channel") {
    val metas = fakeDecode(Multimodal.withPayload(docs))
      .collect().map(m => m.doc_id -> m).toMap
    assert(metas(2L).ok === false && metas(2L).err === "empty payload")
    assert(metas(1L).ok === true)
    assert(metas(1L).width === (11 % 320 + 32))
    // sha present and stable
    assert(metas(1L).sha.length === 64)
  }

  test("decodeImage parses real PNG/JPEG/GIF headers for pixel dimensions") {
    import spark.implicits._
    // a genuine, complete 1x1 transparent PNG (signature+IHDR+IDAT+IEND)
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    // minimal JPEG: SOI, APP0 (2-byte body), SOF0 with height=2/width=3
    // (1 component), EOI — exercises the marker walk past a skipped segment
    val jpeg = Array[Int](
      0xff, 0xd8, // SOI
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46, // APP0, len 4
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x02, 0x00, 0x03, 0x01, 0x01, 0x11, 0x00, // SOF0
      0xff, 0xd9 // EOI
    ).map(_.toByte)
    // GIF89a logical screen 7x5 (little-endian)
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x07, 0x00, 0x05, 0x00, 0x00, 0x00, 0x00).map(_.toByte))
    val junk = "not an image at all".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, jpeg), (3L, gif), (4L, junk))
      .toDF("doc_id", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val m = Multimodal.decodeImage(df).collect().map(x => x.doc_id -> x).toMap
    assert(m(1L).ok && m(1L).format === "png" && m(1L).width === 1 && m(1L).height === 1)
    assert(m(2L).ok && m(2L).format === "jpeg" && m(2L).width === 3 && m(2L).height === 2)
    assert(m(3L).ok && m(3L).format === "gif" && m(3L).width === 7 && m(3L).height === 5)
    assert(!m(4L).ok && m(4L).err === "unknown container")
  }

  test("decodePixels: golden 2x2 PNG decodes to exact RGB bytes via javax.imageio") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // red
    img.setRGB(1, 0, 0x00ff00) // green
    img.setRGB(0, 1, 0x0000ff) // blue
    img.setRGB(1, 1, 0x123456)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val df = Seq((1L, baos.toByteArray), (2L, "garbage".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val m = Multimodal.decodePixels(df).collect().map(x => x.doc_id -> x).toMap
    val d = m(1L)
    assert(d.ok && d.format === "png" && d.width === 2 && d.height === 2)
    // PNG is lossless: row-major RGB888 must round-trip exactly
    assert(d.pixels.toSeq === Seq(
      0xff, 0x00, 0x00, 0x00, 0xff, 0x00,
      0x00, 0x00, 0xff, 0x12, 0x34, 0x56).map(_.toByte))
    assert(!m(2L).ok && m(2L).err.nonEmpty, "garbage must use the error channel")
  }

  test("decodePixels: an IHDR claiming 100000x100000 is rejected before decoding, every run alike") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val b = baos.toByteArray
    java.nio.ByteBuffer.wrap(b).putInt(16, 100000).putInt(20, 100000) // IHDR width, height
    val df = Seq((1L, b)).toDF("doc_id", "payload")
    def run() = Multimodal.decodePixels(df).collect().toSeq
      .map(d => (d.ok, d.format, d.width, d.height, d.pixels.toSeq, d.err))
    val first = run()
    assert(first === Seq((false, "png", 100000, 100000, Seq.empty[Byte],
      "100000x100000 exceeds maxPixels=16777216")))
    assert(run() === first)
  }

  test("decodePixels: oversized images are rejected in-row, not allocated") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val df = Seq((1L, baos.toByteArray)).toDF("doc_id", "payload")
    val d = Multimodal.decodePixels(df, maxPixels = 16L).collect().head
    assert(!d.ok && d.err.contains("maxPixels") && d.width === 8 && d.height === 8)
    assert(d.pixels.isEmpty)
  }

  /** Minimal RIFF/WAVE container around 16-bit little-endian mono PCM.
    * `claimFrames` lets a test lie about the data-chunk length (the
    * malformed-length bomb shape decodeAudio must reject in-row). */
  private def wav(samples: Array[Short], rate: Int,
      claimFrames: Option[Int] = None): Array[Byte] = {
    val dataLen = claimFrames.map(_ * 2).getOrElse(samples.length * 2)
    val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("decodeAudio: real WAV PCM decode — params exact, square-wave RMS exact") {
    import spark.implicits._
    // full-scale-half square wave: |v| = 16384/32768 = 0.5 everywhere,
    // so peak = rms = 0.5 EXACTLY — no windowing/approximation slack
    val square = Array.tabulate(8000)(i => if (i % 2 == 0) 16384 else -16384)
      .map(_.toShort)
    val silent = Array.fill(100)(0.toShort)
    val df = Seq(
      (1L, wav(square, 8000)),
      (2L, wav(silent, 44100)),
      (3L, "not audio at all".getBytes)).toDF("doc_id", "payload")
    val m = Multimodal.decodeAudio(df).collect().map(a => a.doc_id -> a).toMap
    assert(m(1L).ok && m(1L).channels === 1 && m(1L).bits === 16)
    assert(m(1L).sample_rate === 8000.0 && m(1L).n_frames === 8000L)
    assert(m(1L).duration_ms === 1000.0)
    assert(m(1L).peak === 0.5 && math.abs(m(1L).rms - 0.5) < 1e-12)
    assert(m(2L).ok && m(2L).peak === 0.0 && m(2L).rms === 0.0 &&
      m(2L).sample_rate === 44100.0)
    assert(!m(3L).ok && m(3L).err.nonEmpty)
  }

  test("decodeAudio: μ-law AU transcodes through the SPI probe — levels within quantization error") {
    import spark.implicits._
    import javax.sound.sampled._
    // full-scale-half square wave again (peak = rms = 0.5 in the PCM
    // source); μ-law is 8-bit companded, so the round-trip level must
    // land within ~2% of the source (measured ~1.2% high), not on it
    val square = Array.tabulate(8000)(i => if (i % 2 == 0) 16384 else -16384)
      .map(_.toShort)
    val pcmBytes = {
      val bb = java.nio.ByteBuffer.allocate(square.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      square.foreach(bb.putShort)
      bb.array()
    }
    val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val src = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcmBytes), pcmFmt, square.length.toLong)
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(AudioSystem.getAudioInputStream(ulawFmt, src),
      AudioFileFormat.Type.AU, baos)

    val df = Seq((1L, baos.toByteArray)).toDF("doc_id", "payload")
    val a = Multimodal.decodeAudio(df).collect().head
    assert(a.ok, s"ulaw decode failed: ${a.err}")
    assert(a.encoding === "ULAW->PCM_SIGNED" && a.channels === 1)
    assert(a.sample_rate === 8000.0 && a.n_frames === 8000L)
    assert(math.abs(a.peak - 0.5) < 0.02 && math.abs(a.rms - 0.5) < 0.02,
      s"companded levels off: peak=${a.peak} rms=${a.rms}")
  }

  test("decodeAudio: non-PCM input is bomb-bounded by maxFrames before transcoding") {
    // a well-formed AU declares its frame count, so the header bound
    // fires before the SPI transcode; the in-branch decoded-stream cap
    // additionally covers providers that report NOT_SPECIFIED (-1)
    // frames (MP3/OGG SPIs), which a stock JDK cannot fabricate
    import spark.implicits._
    import javax.sound.sampled._
    val tone = Array.fill(4096)(1000.toShort)
    val pcmBytes = {
      val bb = java.nio.ByteBuffer.allocate(tone.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      tone.foreach(bb.putShort)
      bb.array()
    }
    val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val src = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcmBytes), pcmFmt, tone.length.toLong)
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(AudioSystem.getAudioInputStream(ulawFmt, src),
      AudioFileFormat.Type.AU, baos)
    val df = Seq((1L, baos.toByteArray)).toDF("doc_id", "payload")
    val a = Multimodal.decodeAudio(df, maxFrames = 1024L).collect().head
    assert(!a.ok && a.err.contains("maxFrames"), s"expected bomb rejection, got: $a")
  }

  test("decodeAudio: claimed-length bomb is rejected in-row via maxFrames") {
    import spark.implicits._
    // header claims 2^26 frames; actual data is 4 samples — the decoder
    // must reject on the CLAIMED length before allocating/reading
    val bomb = wav(Array[Short](1, 2, 3, 4), 8000, claimFrames = Some(1 << 26))
    val df = Seq((1L, bomb)).toDF("doc_id", "payload")
    val a = Multimodal.decodeAudio(df, maxFrames = 1L << 20).collect().head
    assert(!a.ok && a.err.contains("maxFrames"))
    assert(a.n_frames === (1L << 26))
  }

  /** Minimal-but-valid MP4: ftyp(isom) + moov{ mvhd v0(timescale,
    * duration), trak{ tkhd with 16.16-fixed dims in its last 8 bytes } }.
    * `largeTkhd` writes the tkhd header as `size == 1` + a 64-bit
    * largesize, which ISO/IEC 14496-12 allows on any box. */
  private def mp4(timescale: Int, duration: Int, w: Int, h: Int,
      largeTkhd: Boolean = false): Array[Byte] = {
    val tkhd = if (largeTkhd) 32 else 24
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 28 + 8 + tkhd + 8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    bb.putInt(8 + 28 + 8 + tkhd + 8).put("moov".getBytes)
    // mvhd v0: ver+flags, creation, modification, timescale, duration (+pad)
    bb.putInt(8 + 28).put("mvhd".getBytes)
      .putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(duration)
      .putInt(0).putInt(0)
    // trak { tkhd: 16-byte payload whose last 8 bytes are w/h in 16.16 }
    bb.putInt(8 + tkhd).put("trak".getBytes)
    if (largeTkhd) bb.putInt(1).put("tkhd".getBytes).putLong(tkhd)
    else bb.putInt(tkhd).put("tkhd".getBytes)
    bb.putInt(0).putInt(0).putInt(w << 16).putInt(h << 16)
    bb.array()
  }

  /** Minimal AVI: RIFF/AVI + LIST hdrl + 56-byte avih main header. */
  private def avi(usPerFrame: Int, totalFrames: Int, streams: Int,
      w: Int, h: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 12 + 8 + 56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(12 + 8 + 56 + 4).put("AVI ".getBytes)
    bb.put("LIST".getBytes).putInt(4 + 8 + 56).put("hdrl".getBytes)
    bb.put("avih".getBytes).putInt(56)
      .putInt(usPerFrame).putInt(0).putInt(0).putInt(0)
      .putInt(totalFrames).putInt(0).putInt(streams).putInt(0)
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.array()
  }

  // --- RIFF builders for the frame-decode fixtures (byte-exact, so the
  // --- tests pin the chunk grammar, not a library's idea of it) ---

  private val LE = java.nio.ByteOrder.LITTLE_ENDIAN

  private def riffChunk(id: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer
      .allocate(8 + payload.length + (payload.length & 1)).order(LE)
    bb.put(id.getBytes).putInt(payload.length).put(payload)
    bb.array() // pad byte (if any) stays zero
  }

  private def riffList(ltyp: String, children: Array[Byte]*): Array[Byte] = {
    val body = children.toArray.flatten
    val bb = java.nio.ByteBuffer.allocate(12 + body.length).order(LE)
    bb.put("LIST".getBytes).putInt(4 + body.length).put(ltyp.getBytes).put(body)
    bb.array()
  }

  /** Playable-shape AVI with (optionally) leading audio streams and ONE
    * video stream: hdrl(avih, strl*...) + movi with the given chunks. */
  private def aviWithFrames(w: Int, h: Int, bitCount: Int, compression: Int,
      moviChunks: Seq[(String, Array[Byte])],
      leadingAudioStreams: Int = 0): Array[Byte] = {
    val avih = {
      val bb = java.nio.ByteBuffer.allocate(56).order(LE)
      bb.putInt(40000).putInt(0).putInt(0).putInt(0)
        .putInt(moviChunks.size).putInt(0)
        .putInt(leadingAudioStreams + 1).putInt(0)
        .putInt(w).putInt(h)
      bb.array()
    }
    val strhVids = {
      val bb = java.nio.ByteBuffer.allocate(56).order(LE)
      bb.put("vids".getBytes).put("MJPG".getBytes)
      bb.array()
    }
    val strfVids = {
      // BITMAPINFOHEADER: biSize,biWidth,biHeight,biPlanes,biBitCount,
      // biCompression, rest zero
      val bb = java.nio.ByteBuffer.allocate(40).order(LE)
      bb.putInt(40).putInt(w).putInt(h).putShort(1)
        .putShort(bitCount.toShort).putInt(compression)
      bb.array()
    }
    val strhAuds = {
      val bb = java.nio.ByteBuffer.allocate(56).order(LE)
      bb.put("auds".getBytes)
      bb.array()
    }
    val audioStrls = (0 until leadingAudioStreams).map(_ =>
      riffList("strl", riffChunk("strh", strhAuds),
        riffChunk("strf", new Array[Byte](16))))
    val hdrl = riffList("hdrl",
      (riffChunk("avih", avih) +: audioStrls :+
        riffList("strl", riffChunk("strh", strhVids),
          riffChunk("strf", strfVids))): _*)
    val movi = riffList("movi",
      moviChunks.map { case (id, p) => riffChunk(id, p) }: _*)
    val body = hdrl ++ movi
    val bb = java.nio.ByteBuffer.allocate(12 + body.length).order(LE)
    bb.put("RIFF".getBytes).putInt(4 + body.length).put("AVI ".getBytes).put(body)
    bb.array()
  }

  /** One uniform-color bottom-up BI_RGB 24-bit DIB frame (BGR byte
    * order, rows padded to 4 bytes — the raw-AVI frame encoding). */
  private def dibFrame(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](stride * h)
    for (y <- 0 until h; x <- 0 until w) {
      out(y * stride + x * 3) = b.toByte
      out(y * stride + x * 3 + 1) = g.toByte
      out(y * stride + x * 3 + 2) = r.toByte
    }
    out
  }

  /** One uniform-color JPEG via the JDK encoder (what an MJPEG '00dc'
    * chunk holds). */
  private def jpegFrame(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (r << 16) | (g << 8) | b)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("decodeFrames: uncompressed RGB24 DIB frames decode to exact channel means") {
    import spark.implicits._
    val payload = aviWithFrames(4, 2, bitCount = 24, compression = 0,
      Seq("00db" -> dibFrame(4, 2, 10, 20, 30),
          "00db" -> dibFrame(4, 2, 200, 100, 50)))
    val df = Seq((1L, payload)).toDF("doc_id", "payload")
    val fs = Multimodal.decodeFrames(df).collect().sortBy(_.frame_no)
    assert(fs.length === 2)
    assert(fs.forall(f => f.ok && f.codec == "rgb24" && f.width == 4 && f.height == 2))
    assert((fs(0).mean_r, fs(0).mean_g, fs(0).mean_b) === ((10.0, 20.0, 30.0)))
    assert((fs(1).mean_r, fs(1).mean_g, fs(1).mean_b) === ((200.0, 100.0, 50.0)))
  }

  test("decodeFrames: MJPEG via the JDK JPEG reader; everyK sampling; stream-id filter") {
    import spark.implicits._
    // video is stream 1 (one leading audio stream) — its chunks are
    // '01dc'; the bogus '00dc' garbage chunk belongs to stream 0 and
    // MUST be ignored by the prefix filter, not decoded or errored
    val colors = Seq((64, 128, 192), (250, 10, 10), (10, 250, 10), (10, 10, 250))
    val chunks = ("00dc" -> "not a jpeg".getBytes("UTF-8")) +:
      colors.map { case (r, g, b) => "01dc" -> jpegFrame(8, 8, r, g, b) }
    val payload = aviWithFrames(8, 8, bitCount = 24, compression = 0x47504A4D, // 'MJPG'
      chunks, leadingAudioStreams = 1)
    val df = Seq((1L, payload)).toDF("doc_id", "payload")
    val all = Multimodal.decodeFrames(df).collect().sortBy(_.frame_no)
    assert(all.length === 4, s"expected 4 frames, got ${all.map(f => (f.frame_no, f.err)).toSeq}")
    assert(all.forall(f => f.ok && f.codec == "mjpeg" && f.width == 8 && f.height == 8))
    for ((f, (r, g, b)) <- all.zip(colors)) {
      assert(math.abs(f.mean_r - r) <= 3 && math.abs(f.mean_g - g) <= 3 &&
        math.abs(f.mean_b - b) <= 3,
        s"frame ${f.frame_no}: got (${f.mean_r},${f.mean_g},${f.mean_b}), want ($r,$g,$b)")
    }
    // every-2nd sampling keeps chunk indexes 0 and 2 of the VIDEO stream
    val sampled = Multimodal.decodeFrames(df, everyK = 2).collect().sortBy(_.frame_no)
    assert(sampled.map(_.frame_no).toSeq === Seq(0, 2))
    assert(math.abs(sampled(1).mean_g - 250) <= 3)
  }

  test("decodeFrames: non-MJPEG compressed frames and non-AVI payloads use the error channel") {
    import spark.implicits._
    val h264ish = aviWithFrames(4, 2, bitCount = 24, compression = 0x34363248, // 'H264'
      Seq("00dc" -> Array[Byte](0, 0, 0, 1, 0x67, 0x42))) // NAL-ish bytes
    val df = Seq(
      (1L, h264ish),
      (2L, "definitely not a video".getBytes("UTF-8")),
      (3L, aviWithFrames(4, 2, 24, 0, Nil))) // video stream, zero frames
      .toDF("doc_id", "payload")
    val m = Multimodal.decodeFrames(df).collect().groupBy(_.doc_id)
    assert(m(1L).length === 1 && !m(1L)(0).ok &&
      m(1L)(0).err.contains("needs an external codec SPI"))
    assert(m(2L).length === 1 && m(2L)(0).frame_no === -1 &&
      m(2L)(0).err === "not an AVI payload")
    assert(!m.contains(3L), "a frameless video emits no rows (nothing sampled)")
  }

  test("decodeVideo: real MP4 box walk — brand, duration, tracks, 16.16 dims") {
    import spark.implicits._
    val df = Seq(
      (1L, mp4(timescale = 1000, duration = 5000, w = 640, h = 360)),
      (2L, avi(usPerFrame = 40000, totalFrames = 250, streams = 2, w = 320, h = 240)),
      (3L, "definitely not a video".getBytes("UTF-8")),
      (4L, mp4(timescale = 600, duration = 1200, w = 1920, h = 1080, largeTkhd = true)))
      .toDF("doc_id", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val m = Multimodal.decodeVideo(df).collect().map(v => v.doc_id -> v).toMap
    assert(m(1L).ok && m(1L).container === "mp4" && m(1L).brand === "isom")
    assert(m(1L).duration_ms === 5000.0 && m(1L).n_tracks === 1)
    assert(m(1L).width === 640 && m(1L).height === 360)
    assert(m(2L).ok && m(2L).container === "avi")
    assert(m(2L).duration_ms === 10000.0 && m(2L).n_tracks === 2)
    assert(m(2L).width === 320 && m(2L).height === 240)
    assert(!m(3L).ok && m(3L).err === "unknown container")
    assert(m(4L).ok, m(4L).err)
    assert(m(4L).duration_ms === 2000.0 && m(4L).n_tracks === 1)
    assert(m(4L).width === 1920 && m(4L).height === 1080)
  }

  test("decodeVideo: truncated/hostile boxes use the error channel, never throw") {
    import spark.implicits._
    val good = mp4(1000, 5000, 640, 360)
    val truncated = good.take(30) // cuts inside moov
    // box claims a 2 GiB size: unsigned read + Long cursor must reject it
    val hostile = good.clone()
    hostile(16) = 0x80.toByte // moov size high byte → huge unsigned
    val df = Seq((1L, truncated), (2L, hostile), (3L, Array.emptyByteArray))
      .toDF("doc_id", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val m = Multimodal.decodeVideo(df).collect().map(v => v.doc_id -> v).toMap
    assert(!m(1L).ok && m(1L).err.startsWith("mp4:"))
    assert(!m(2L).ok && m(2L).err.startsWith("mp4:"))
    assert(!m(3L).ok && m(3L).err === "payload too short")
  }

  test("decodeVideo: a truncated mvhd followed by a trak is an mp4: error, not the trak's bytes") {
    import spark.implicits._
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 16 + 8 + 24)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    bb.putInt(8 + 16 + 8 + 24).put("moov".getBytes)
    // mvhd v0 cut after ver+flags and creation time: no timescale/duration
    bb.putInt(16).put("mvhd".getBytes).putInt(0).putInt(0)
    bb.putInt(8 + 24).put("trak".getBytes)
    bb.putInt(24).put("tkhd".getBytes).putInt(0).putInt(0).putInt(640 << 16).putInt(360 << 16)
    val df = Seq((1L, bb.array())).toDF("doc_id", "payload")
    val v = Multimodal.decodeVideo(df).collect().head
    assert(!v.ok && v.err === "mp4: truncated mvhd v0", v)
  }

  test("decodeVideo/decodeFrames: every AVI prefix and an oversized chunk use the avi: error channel") {
    import spark.implicits._
    val good = Multimodal.syntheticRgbAvi(5)
    val le = java.nio.ByteOrder.LITTLE_ENDIAN
    // the first movi frame chunk claims far more bytes than the payload has
    val frameAt = new String(good, "US-ASCII").indexOf("00db")
    val bigFrame = good.clone()
    java.nio.ByteBuffer.wrap(bigFrame).order(le).putInt(frameAt + 4, 0x7ffffff0)
    // a trailing top-level chunk whose size runs past the payload
    val junk = java.nio.ByteBuffer.allocate(12).order(le)
      .put("JUNK".getBytes).putInt(-16).putInt(0).array()
    val inputs = (0 to good.length).map(n => good.take(n)) :+ bigFrame :+ (good ++ junk)
    val df = inputs.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("doc_id", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    def hostileErr(e: String) = e.startsWith("avi:") || e == "payload too short"

    val video = Multimodal.decodeVideo(df).collect()
    assert(video.length === inputs.length)
    video.filterNot(_.ok).foreach(v => assert(hostileErr(v.err), s"doc ${v.doc_id}: ${v.err}"))
    assert(video.find(_.doc_id == good.length).exists(v => v.ok && v.width == 4))

    val frames = Multimodal.decodeFrames(df).collect()
    frames.filterNot(_.ok).foreach(f => assert(hostileErr(f.err), s"doc ${f.doc_id}: ${f.err}"))
    assert(frames.count(f => f.doc_id == good.length && f.ok) === 3)
    val bad = frames.filter(_.doc_id == inputs.length - 2)
    assert(bad.length === 1 && bad(0).err === "avi: truncated movi chunk '00db'")
    val tail = frames.filter(_.doc_id == inputs.length - 1)
    assert(tail.length === 1 && tail(0).err === "avi: truncated chunk 'JUNK'")
  }

  test("a null payload is an error row in every decoder, never a task failure") {
    import spark.implicits._
    val df = Multimodal.withPayload(Seq((1L, null: String)).toDF("doc_id", "text"))
    val img = Multimodal.decodeImage(df).collect().head
    assert(!img.ok && img.n_bytes === 0L && img.err === "payload too short")
    val vid = Multimodal.decodeVideo(df).collect().head
    assert(!vid.ok && vid.n_bytes === 0L && vid.err === "payload too short")
    assert(Multimodal.decodeFrames(df).collect().map(_.err).toSeq === Seq("payload too short"))
    assert(Multimodal.decodePixels(df).collect().map(_.err).toSeq === Seq("empty payload"))
    assert(Multimodal.decodeAudio(df).collect().map(_.err).toSeq === Seq("empty payload"))
    assert(Multimodal.audioFingerprint(df).collect().map(_.err).toSeq === Seq("empty payload"))
  }

  test("resizePixels: huge-but-valid dims are rejected up front (Int overflow guard)") {
    import spark.implicits._
    val df = Seq((1L, 1, 1, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "width", "height", "pixels")
    // 65536 * 65536 overflows Int to 0 — must fail the require, not
    // reach allocation
    val e = intercept[IllegalArgumentException] {
      Multimodal.resizePixels(df, 65536, 65536)
    }
    assert(e.getMessage.contains("65536"))
  }

  test("resizePixels: identity resize is byte-exact; downscale averages; short buffers flagged") {
    import spark.implicits._
    // 2x2 RGB image: TL=(0,0,0) TR=(40,40,40) BL=(80,80,80) BR=(120,120,120)
    val px = Array[Int](0, 0, 0, 40, 40, 40, 80, 80, 80, 120, 120, 120)
      .map(_.toByte)
    val df = Seq(
      (1L, 2, 2, px),
      (2L, 2, 2, px.take(6)),             // short buffer: < w*h*3
      (3L, 0, 0, Array.emptyByteArray)    // no decode upstream
    ).toDF("doc_id", "width", "height", "pixels")

    // identity: pixel-center sampling maps dst exactly onto src
    val id2 = Multimodal.resizePixels(df.filter(col("doc_id") === 1), 2, 2)
      .collect().head
    assert(id2.ok && id2.resized.sameElements(px))

    // 2x2 -> 1x1: the single output pixel centers between all four
    // inputs, so each channel is their plain mean = (0+40+80+120)/4 = 60
    val down = Multimodal.resizePixels(df.filter(col("doc_id") === 1), 1, 1)
      .collect().head
    assert(down.ok && down.resized.toSeq === Seq[Byte](60, 60, 60))
    assert(down.out_w === 1 && down.out_h === 1)

    // upscale 2x2 -> 4x4: full w*h*3 buffer, deterministic, corners clamp
    // to the source corner values (edge-clamped sampling)
    val up = Multimodal.resizePixels(df.filter(col("doc_id") === 1), 4, 4)
      .collect().head
    assert(up.ok && up.resized.length === 48)
    assert(up.resized(0) === 0.toByte)                 // TL corner
    assert(up.resized(45) === 120.toByte)              // BR corner, R channel
    val again = Multimodal.resizePixels(df.filter(col("doc_id") === 1), 4, 4)
      .collect().head
    assert(again.resized.sameElements(up.resized))

    // degraded rows flow to the flag, not an exception
    val bad = Multimodal.resizePixels(df.filter(col("doc_id") >= 2), 2, 2)
      .collect().map(m => m.doc_id -> m).toMap
    assert(!bad(2L).ok && bad(2L).resized.isEmpty)
    assert(!bad(3L).ok && bad(3L).resized.isEmpty)
  }

  test("resizePixels composes with decodePixels: a real PNG decodes then resizes") {
    import spark.implicits._
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    val decoded = Multimodal.decodePixels(
      Seq((1L, png)).toDF("doc_id", "payload"))
    val out = Multimodal.resizePixels(
      decoded.select(col("doc_id"), col("width"), col("height"), col("pixels")),
      3, 3).collect().head
    // 1x1 source upscales to a constant 3x3 of the same pixel
    assert(out.ok && out.resized.length === 27)
    assert(out.resized.distinct.length <= 3) // one RGB triple replicated
  }

  test("perceptualHash: decoded synthetic PNG reproduces the formula dHash bit-for-bit") {
    import spark.implicits._
    // independent derivation (the m03 DuckDB twin's formula): bit
    // (y*8+x) set iff pixel value + 29 does not wrap mod 256
    def expected(id: Long): (Long, Long) = {
      val base = math.floorMod(id, 16)
      var hi = 0L; var lo = 0L
      for (y <- 0 until 8; x <- 0 until 8) {
        if ((base * 31 + x * 29 + y * 13) % 256 < 227) {
          val idx = y * 8 + x
          if (idx >= 32) hi |= 1L << (idx - 32) else lo |= 1L << idx
        }
      }
      (hi, lo)
    }
    val ids = Seq(0L, 1L, 7L, 15L, 16L, 123L)
    val payloads = ids.map(id => (id, Multimodal.syntheticGrayPng(id)))
      .toDF("doc_id", "payload")
    val got = Multimodal.perceptualHash(payloads).collect()
      .map(p => p.doc_id -> p).toMap
    ids.foreach { id =>
      val p = got(id)
      assert(p.ok, s"doc $id: ${p.err}")
      assert(p.format === "png" && p.width === 9 && p.height === 8)
      assert((p.phash_hi, p.phash_lo) === expected(id), s"doc $id hash")
      // halves stay inside 32 bits → non-negative in both engines
      assert(p.phash_hi >= 0L && p.phash_hi < (1L << 32))
      assert(p.phash_lo >= 0L && p.phash_lo < (1L << 32))
    }
    // base = id % 16 ⇒ ids 16 apart collide (the dup-group regime),
    // different bases differ
    assert((got(0L).phash_hi, got(0L).phash_lo) ===
      (got(16L).phash_hi, got(16L).phash_lo))
    assert((got(0L).phash_hi, got(0L).phash_lo) !==
      (got(1L).phash_hi, got(1L).phash_lo))
  }

  test("perceptualHash: non-canonical sizes resample to the 9x8 grid; bad payloads flag") {
    import spark.implicits._
    // a 1x1 PNG upscales to a CONSTANT 9x8 grid → no gradient exceeds →
    // all bits zero; junk bytes ride the error channel
    val png1x1 = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    val rows = Multimodal.perceptualHash(
      Seq((1L, png1x1), (2L, "not an image".getBytes("UTF-8")))
        .toDF("doc_id", "payload")).collect().map(p => p.doc_id -> p).toMap
    assert(rows(1L).ok && rows(1L).phash_hi === 0L && rows(1L).phash_lo === 0L)
    assert(!rows(2L).ok && rows(2L).err.nonEmpty)
  }

  test("audioFingerprint: decoded synthetic WAV reproduces the formula envelope; partial window exact") {
    import spark.implicits._
    // independent derivation (the m04 DuckDB twin's formula)
    def expected(id: Long): Seq[(Long, Long, Long)] = {
      val base = math.floorMod(id, 8)
      val n = (40 + math.floorMod(id, 5) * 10).toInt
      (0 until n).map(i => (i / 16, math.abs((base * 37 + i * 11) % 256 - 128) * 256L))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (w, xs) => (w.toLong, xs.size.toLong, xs.map(_._2).sum) }
    }
    val ids = Seq(0L, 3L, 7L, 8L, 42L)
    val payloads = ids.map(id => (id, Multimodal.syntheticPcmWav(id)))
      .toDF("doc_id", "payload")
    val got = Multimodal.audioFingerprint(payloads, window = 16).collect()
      .groupBy(_.doc_id)
    ids.foreach { id =>
      val rows = got(id).sortBy(_.win_no)
      assert(rows.forall(_.ok), s"doc $id: ${rows.find(!_.ok).map(_.err)}")
      assert(rows.map(r => (r.win_no, r.n_samples, r.energy)).toSeq === expected(id))
      // frame counts are never window multiples: last window is partial
      assert(rows.last.n_samples < 16L, s"doc $id should end on a partial window")
    }
  }

  test("decodeAudio/audioFingerprint: frames wider than 8192 bytes finish") {
    import spark.implicits._
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val wav = Multimodal.syntheticPcmWav(3)
    wav(23) = 16 // high byte of the channel count: 4097 channels, 8194-byte frames
    val df = Seq((1L, wav)).toDF("doc_id", "payload")
    TimeLimits.failAfter(60.seconds) {
      val a = Multimodal.decodeAudio(df).collect()
      assert(a.length === 1 && a.head.ok && a.head.channels === 4097 && a.head.n_frames === 0L)
      assert(Multimodal.audioFingerprint(df).collect().forall(_.ok))
    }
  }

  test("audioFingerprint: 8-bit PCM upscales to int16 units; non-audio payloads flag") {
    import spark.implicits._
    // hand-built 8-bit unsigned mono WAV: values 128+v store signal v
    val vals = Array[Int](0, 10, -20, 127, -128)
    val bb = java.nio.ByteBuffer.allocate(44 + vals.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + vals.length).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(8000).putShort(1).putShort(8)
    bb.put("data".getBytes).putInt(vals.length)
    vals.foreach(v => bb.put((v + 128).toByte))
    val rows = Multimodal.audioFingerprint(
      Seq((1L, bb.array()), (2L, "not audio".getBytes("UTF-8")))
        .toDF("doc_id", "payload"), window = 16)
      .collect().groupBy(_.doc_id)
    val w = rows(1L).head
    assert(w.ok && w.win_no === 0L && w.n_samples === vals.length.toLong)
    assert(w.energy === vals.map(v => math.abs(v) * 256L).sum)
    assert(rows(2L).forall(r => !r.ok && r.err.nonEmpty))
  }

  // ── SPI routing: "a codec jar swaps in with no plumbing change" ────
  // decodePixels/decodeAudio are NOT modified for the toy formats below
  // (see ToyCodecs): the image provider registers at runtime through
  // IIORegistry (what a provider jar's static initializer does), the
  // audio providers load from META-INF/services in test resources
  // (exactly how a provider jar ships) — and the same public decoder
  // calls route through them.

  test("decodePixels routes an unknown format through a runtime-registered ImageReaderSpi") {
    import spark.implicits._
    val rgb = Array(
      0xff, 0x00, 0x00, 0x00, 0xff, 0x00,
      0x00, 0x00, 0xff, 0x12, 0x34, 0x56).map(_.toByte)
    val df = Seq((1L, ToyCodecs.toyImage(2, 2, rgb))).toDF("doc_id", "payload")

    // before registration the SAME payload must use the error channel
    val before = Multimodal.decodePixels(df).collect().head
    assert(!before.ok && before.err.contains("no registered reader"),
      s"TOYI decoded before its SPI was registered: $before")

    val registry = javax.imageio.spi.IIORegistry.getDefaultInstance
    val spi = new ToyImageReaderSpi
    registry.registerServiceProvider(spi)
    try {
      val after = Multimodal.decodePixels(df).collect().head
      assert(after.ok, s"TOYI did not route through the registered SPI: ${after.err}")
      assert(after.width === 2 && after.height === 2)
      // raw-RGB toy format is lossless: bytes must round-trip exactly
      assert(after.pixels.toSeq === rgb.toSeq)
    } finally registry.deregisterServiceProvider(spi)
  }

  test("decodeAudio transcodes a toy compressed encoding through META-INF/services providers") {
    import spark.implicits._
    val frames = Array[Byte](0, 64, -64, 127, -128)
    val df = Seq(
      (1L, ToyCodecs.toyAudio(ToyCodecs.AudioMagicConv, frames)), // TOYENC: convertible
      (2L, ToyCodecs.toyAudio(ToyCodecs.AudioMagicRaw, frames))   // TOYRAW: no transcoder
    ).toDF("doc_id", "payload")
    val m = Multimodal.decodeAudio(df).collect().map(x => x.doc_id -> x).toMap

    // TOYENC routes container parse (AudioFileReader SPI) -> transcoder
    // probe (FormatConversionProvider SPI) -> PCM level stats
    val a = m(1L)
    assert(a.ok, s"TOYENC did not transcode: ${a.err}")
    assert(a.encoding === "TOYENC->PCM_SIGNED")
    assert(a.channels === 1 && a.sample_rate === 8000.0 && a.n_frames === 5L)
    // transcode is sample = byte << 8, levelStats normalizes /32768 ->
    // v = byte/128 exactly; expected levels computed from the fixture
    val vs = frames.map(_ / 128.0)
    assert(math.abs(a.peak - vs.map(math.abs).max) < 1e-12)
    assert(math.abs(a.rms - math.sqrt(vs.map(v => v * v).sum / vs.length)) < 1e-12)

    // TOYRAW parses (params intact) but has no registered transcoder ->
    // error channel, exactly the "no codec jar" degradation
    val b = m(2L)
    assert(!b.ok && b.err.contains("no PCM transcoder SPI registered"), b.toString)
    assert(b.encoding === "TOYRAW" && b.channels === 1 && b.n_frames === 5L)
  }
}
