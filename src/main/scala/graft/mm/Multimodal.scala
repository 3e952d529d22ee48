package graft.mm

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
import scala.reflect.runtime.universe.TypeTag
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column processing (north-star): media payloads are opaque
  * `binary` columns with typed metadata structs, decoded batch-wise per
  * partition (one codec init per task, per-row error channel —
  * malformed payloads degrade to a flagged row, never a task failure).
  *
  * Every payload decoder runs in one shell (`decodePayloads`), and each
  * byte-level format has one reader, shared by every decoder that needs
  * it: one RIFF chunk walk (`riffChunks`: AVI header and frame paths),
  * one ISO-BMFF box walk (`isoBoxes`: every level of the MP4 tree), one
  * int16 PCM sample reader (`forEachSample16`: audio levels and
  * fingerprints) and one `getRGB` loop (`rgb888`: image pixels and MJPEG
  * frames).
  *
  * The decoder matrix — what is REAL on a stock JDK:
  *  - image headers ([[decodeImage]]: PNG IHDR / JPEG SOF / GIF LSD /
  *    BMP, pure byte parsing) and image PIXELS ([[decodePixels]]:
  *    PNG/JPEG/GIF/BMP via `javax.imageio`, row-major RGB888 out);
  *  - pixel RESIZE ([[resizePixels]]: bilinear resample over RGB888,
  *    pure arithmetic) and image PERCEPTUAL HASH ([[perceptualHash]]:
  *    canonical 9x8 dHash64 over the decoded, resampled pixels — the
  *    image-dedup key);
  *  - audio ([[decodeAudio]]: WAV/AIFF/AU PCM via
  *    `javax.sound.sampled`, with level features; non-PCM encodings
  *    probe the runtime SPI registry for a transcoder, so μ-law/a-law
  *    decode for real and a registered MP3/OGG provider jar lights up
  *    with no code change);
  *  - video CONTAINER metadata ([[decodeVideo]]: MP4/ISO-BMFF box tree
  *    and AVI RIFF header — duration, track count, dimensions);
  *  - video FRAME pixels ([[decodeFrames]]: MJPEG and uncompressed
  *    BI_RGB DIB frames inside AVI, every-K sampling, per-frame
  *    channel means).
  *
  * The remaining JDK-blocked gap: MODERN compressed codec decode (the
  * JRE ships no H.264/VP9/AV1 or MP3/AAC decoder). Such frames take
  * [[decodeFrames]]'s per-frame error channel, and dropping a codec SPI
  * jar on the executor classpath lights the real decode up without
  * touching any plumbing (the seam is exercised by the test suite's
  * toy providers).
  */
object Multimodal {

  /** Attach the opaque payload column + cheap byte-level metadata
    * (no decode): the columnar, codegen'd part. */
  def withPayload(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("payload", col(textCol).cast("binary"))
      .withColumn("n_bytes", octet_length(col(textCol)).cast("long"))
      .withColumn("content_sha", sha2(col("payload"), 256))

  /** The payload-decoder shell every decoder runs in: selects
    * `(doc_id, payload)`, sets the per-task codec state once (no
    * disk-backed ImageIO cache inside executor tasks) and maps each row
    * through `decode`, which sees a null payload as null. A `Left` from
    * `decode`, or any exception it throws, becomes the one row
    * `fail(doc_id, payload, error)`: a malformed payload is a flagged
    * row, never a task failure. */
  private def decodePayloads[T <: Product : TypeTag](df: DataFrame)(
      fail: (Long, Array[Byte], String) => T)(
      decode: (Long, Array[Byte]) => Either[String, Iterator[T]]): Dataset[T] =
    df.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.flatMap { r =>
          val id = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          val out =
            try decode(id, b)
            catch {
              case e: Exception =>
                Left(s"decode: ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          out.fold(e => Iterator.single(fail(id, b, e)), identity)
        }
      }(Encoders.product[T])

  /** A decoder's `n_bytes`: the payload length, 0 for a null payload. */
  private def nBytes(b: Array[Byte]): Long = if (b == null) 0L else b.length

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def be32L(b: Array[Byte], i: Int): Long = be32(b, i) & 0xffffffffL
  private def be64(b: Array[Byte], i: Int): Long =
    (be32L(b, i) << 32) | be32L(b, i + 4)
  private def le32L(b: Array[Byte], i: Int): Long =
    (le16(b, i) | (le16(b, i + 2) << 16)).toLong & 0xffffffffL
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Typed result of a REAL image-header decode. */
  final case class ImageMeta(
      doc_id: Long, n_bytes: Long, format: String,
      width: Int, height: Int, ok: Boolean, err: String)

  /** REAL image-header decode (no codec library needed): parses the
    * PNG IHDR, JPEG SOF marker, and GIF logical-screen descriptor for
    * pixel dimensions, straight off the binary payload. Runs in the
    * shared payload shell — a pixel-level codec swap changes only
    * the per-row function, none of the plumbing. Malformed
    * or unknown payloads flow to the per-row error channel, never throw.
    */
  def decodeImage(df: DataFrame): Dataset[ImageMeta] =
    decodePayloads(df)((id, b, e) =>
      ImageMeta(id, nBytes(b), "", 0, 0, ok = false, err = e)) { (id, b) =>
      imageDims(b).map { case (fmt, w, h) =>
        Iterator(ImageMeta(id, nBytes(b), fmt, w, h, ok = true, err = ""))
      }
    }

  /** (format, width, height) from the container header, or an error. */
  private[mm] def imageDims(b: Array[Byte]): Either[String, (String, Int, Int)] = {
    if (b == null || b.length < 10) return Left("payload too short")
    // PNG: 8-byte signature, then the IHDR chunk is REQUIRED first —
    // width/height are the big-endian ints at offsets 16/20
    if (b.length >= 24 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      return Right(("png", be32(b, 16), be32(b, 20)))
    // GIF87a/89a: logical screen descriptor, little-endian at 6/8
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return Right(("gif", le16(b, 6), le16(b, 8)))
    // JPEG: walk marker segments from SOI to the first SOF{0..15, not
    // DHT/DAC/RST} frame header: dimensions at +5 (height) / +7 (width)
    if (u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xff) return Left(s"jpeg: bad marker sync at $i")
        val m = u8(b, i + 1)
        if (m == 0xff) { i += 1 } // fill byte
        else if (m >= 0xd0 && m <= 0xd9) { i += 2 } // RST/SOI/EOI: no payload
        else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (i + 8 >= b.length) return Left("jpeg: truncated SOF")
          return Right(("jpeg", be16(b, i + 7), be16(b, i + 5)))
        } else i += 2 + be16(b, i + 2) // skip segment (length includes itself)
      }
      return Left("jpeg: no SOF marker")
    }
    Left("unknown container")
  }

  /** Typed result of a REAL pixel decode: row-major RGB888 bytes. */
  final case class DecodedImage(
      doc_id: Long, format: String, width: Int, height: Int,
      pixels: Array[Byte], ok: Boolean, err: String)

  /** REAL pixel decode via the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP
    * readers ship with the JRE — no external codec needed, which
    * retires the "media libs absent" premise for these formats — see
    * the object doc for the full decoder matrix). Emits row-major
    * RGB888 so downstream feature extraction is format-independent.
    * Runs in the shared payload shell: one ImageIO configuration
    * per task, every
    * malformed payload flows to the per-row error channel, and
    * `maxPixels` bounds the per-row allocation (a 100 TB corpus WILL
    * contain a decompression bomb; reject it in-row, don't OOM the
    * task). */
  def decodePixels(df: DataFrame, maxPixels: Long = 1L << 24): Dataset[DecodedImage] = {
    // a function value, not a local def: the task closures capture it
    val row = (id: Long, b: Array[Byte], w: Int, h: Int, px: Array[Byte], err: String) =>
      DecodedImage(id, imageDims(b).map(_._1).getOrElse(""), w, h, px,
        ok = err.isEmpty, err = err)
    decodePayloads(df)((id, b, e) => row(id, b, 0, 0, Array.emptyByteArray, e)) { (id, b) =>
      def rejected(w: Int, h: Int) =
        row(id, b, w, h, Array.emptyByteArray, s"${w}x$h exceeds maxPixels=$maxPixels")
      if (b == null || b.isEmpty) Left("empty payload")
      else imageDims(b) match {
        // the header's size is checked before ImageIO allocates a raster
        case Right((_, w, h)) if w.toLong * h.toLong > maxPixels => Right(Iterator(rejected(w, h)))
        case _ => Option(ImageIO.read(new ByteArrayInputStream(b)))
          .toRight("no registered reader for payload")
          .map { img =>
            val w = img.getWidth
            val h = img.getHeight
            Iterator(
              if (w.toLong * h.toLong > maxPixels) rejected(w, h)
              else row(id, b, w, h, rgb888(img), ""))
          }
      }
    }
  }

  /** Row-major RGB888 bytes of a decoded image: the one `getRGB` loop. */
  private def rgb888(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth
    val out = new Array[Byte](w * img.getHeight * 3)
    for (y <- 0 until img.getHeight; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val k = (y * w + x) * 3
      out(k) = (rgb >> 16).toByte
      out(k + 1) = (rgb >> 8).toByte
      out(k + 2) = rgb.toByte
    }
    out
  }

  /** Typed result of a REAL audio decode: stream params + level stats. */
  final case class AudioMeta(
      doc_id: Long, encoding: String, channels: Int, sample_rate: Double,
      bits: Int, n_frames: Long, duration_ms: Double,
      peak: Double, rms: Double, ok: Boolean, err: String)

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/AIFF/AU
    * PCM readers ship with the JRE, headless-safe — the same "no
    * external codec" retirement decodePixels did for images). Non-PCM
    * encodings probe the runtime SPI registry for a PCM transcoder:
    * μ-law/a-law telephony clips decode for real on a stock JDK, and a
    * registered MP3/OGG provider jar lights that path up with no code
    * change; with no transcoder the row degrades to the error channel
    * with its container params intact. Emits the stream parameters
    * plus channel-folded peak/RMS level in [0,1] — the cheap
    * feature-extraction a corpus audit runs per clip. Same
    * payload shell: per-row error channel, `maxFrames` bounds the
    * per-row allocation on BOTH the header-claimed and the decoded
    * stream (reject the 100 TB corpus's inevitable malformed-length
    * bomb in-row, don't OOM the task). Only compressed-video frame
    * pixel decode remains JDK-blocked (no H.264/VP9 codec ships). */
  def decodeAudio(df: DataFrame, maxFrames: Long = 1L << 24): Dataset[AudioMeta] =
    decodePayloads(df)((id, _, e) =>
      AudioMeta(id, "", 0, 0.0, 0, 0L, 0.0, 0.0, 0.0, ok = false, err = e)) { (id, b) =>
      if (b == null || b.isEmpty) Left("empty payload")
      else Using.resource(AudioSystem.getAudioInputStream(new ByteArrayInputStream(b))) { in =>
        val f = in.getFormat
        val enc = f.getEncoding.toString
        val frames = in.getFrameLength
        val durMs = if (f.getFrameRate > 0) frames * 1000.0 / f.getFrameRate else 0.0
        def meta(encoding: String, n: Long, dur: Double, level: (Double, Double), err: String) =
          AudioMeta(id, encoding, f.getChannels, f.getSampleRate.toDouble,
            f.getSampleSizeInBits, n, dur, level._1, level._2, ok = err.isEmpty, err = err)
        val silent = (0.0, 0.0)
        Right(Iterator(
          if (frames > maxFrames)
            meta(enc, frames, durMs, silent, s"$frames frames exceeds maxFrames=$maxFrames")
          else if (linearPcm(f))
            meta(enc, frames, durMs, levelStats(readFrames(in), f), "")
          else {
            // COMPRESSED / non-linear encoding: probe the runtime SPI
            // registry for a PCM transcoder instead of giving up. Stock
            // JDK converts μ-law/a-law (so AU/WAV telephony clips decode
            // for real); an MP3/OGG provider jar on the classpath lights
            // this path up with no code change — and with none registered
            // the row degrades to the error channel, params intact.
            val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
              f.getSampleRate, 16, f.getChannels, f.getChannels * 2, f.getSampleRate, false)
            if (!AudioSystem.isConversionSupported(target, f))
              meta(enc, frames, durMs, silent,
                s"no PCM transcoder SPI registered for $enc/${f.getSampleSizeInBits}-bit")
            else Using.resource(AudioSystem.getAudioInputStream(target, in)) { pcm =>
              // bomb bound on the DECODED stream: a compressed source may
              // report NOT_SPECIFIED (-1) frames, so cap the transcoded
              // read instead of trusting the header (maxFrames × frameSize
              // stays < 2 GiB for any sane channel count; clamp defensively)
              val capBytes = math.min(
                maxFrames * target.getFrameSize, (Int.MaxValue - 8).toLong).toInt
              val data = pcm.readNBytes(capBytes)
              if (data.length == capBytes && pcm.read() != -1)
                meta(enc, frames, durMs, silent, s"decoded stream exceeds maxFrames=$maxFrames")
              else {
                val framesRead = data.length / target.getFrameSize
                val dur = if (durMs > 0) durMs
                  else if (target.getFrameRate > 0) framesRead * 1000.0 / target.getFrameRate
                  else 0.0
                meta(s"$enc->PCM_SIGNED", framesRead.toLong, dur, levelStats(data, target), "")
              }
            }
          }))
      }
    }

  /** The rest of `in`, read in whole-frame chunks. `readAllBytes` asks
    * for 8192 bytes at a time, and `AudioInputStream.read` returns 0 for
    * a request shorter than one frame, so a stream whose frames exceed
    * 8192 bytes would never reach its end. */
  private def readFrames(in: AudioInputStream): Array[Byte] = {
    val frame = math.max(1, in.getFormat.getFrameSize)
    val buf = new Array[Byte](frame * math.max(1, 8192 / frame))
    val out = new java.io.ByteArrayOutputStream()
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** 8- or 16-bit linear PCM: what [[forEachSample16]] reads. */
  private def linearPcm(f: AudioFormat): Boolean =
    (f.getEncoding == AudioFormat.Encoding.PCM_SIGNED ||
      f.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED) &&
      (f.getSampleSizeInBits == 8 || f.getSampleSizeInBits == 16)

  /** Each sample of a linear-PCM buffer in int16 units, channels folded:
    * 16-bit samples in the stream's byte order, 8-bit samples shifted
    * left by 8 (unsigned ones re-centred on 0 first), so every bit depth
    * shares one scale. */
  private def forEachSample16(data: Array[Byte], f: AudioFormat)(visit: Int => Unit): Unit = {
    val wide = f.getSampleSizeInBits == 16
    val unsigned = f.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED
    val n = if (wide) data.length / 2 else data.length
    var i = 0
    while (i < n) {
      visit(
        if (!wide) (if (unsigned) u8(data, i) - 128 else data(i).toInt) << 8
        else (if (f.isBigEndian) be16(data, 2 * i) else le16(data, 2 * i)).toShort)
      i += 1
    }
  }

  /** Channel-folded peak/RMS over a linear-PCM byte buffer in [0,1]
    * (int16 units / 32768: both scalings are powers of two, so 8-bit
    * levels are the exact `/128` values). */
  private def levelStats(data: Array[Byte], f: AudioFormat): (Double, Double) = {
    var peak = 0.0
    var sumSq = 0.0
    var n = 0
    forEachSample16(data, f) { s =>
      val v = s / 32768.0
      val a = math.abs(v)
      if (a > peak) peak = a
      sumSq += v * v
      n += 1
    }
    (peak, if (n > 0) math.sqrt(sumSq / n) else 0.0)
  }

  /** Typed result of a REAL video-container metadata decode. */
  final case class VideoMeta(
      doc_id: Long, n_bytes: Long, container: String, brand: String,
      duration_ms: Double, n_tracks: Int, width: Int, height: Int,
      ok: Boolean, err: String)

  /** REAL video-container metadata decode: walks the MP4/ISO-BMFF box
    * tree (ftyp brand; moov/mvhd timescale+duration; per-trak tkhd
    * 16.16-fixed dimensions) and the AVI RIFF header (avih frame timing,
    * stream count, dimensions) straight off the payload bytes — no codec
    * library involved, so this runs in any JVM. Same payload
    * shell + per-row error channel as every other decoder here; every
    * multi-byte read is bounds-checked so a truncated or hostile payload
    * errors instead of throwing. */
  def decodeVideo(df: DataFrame): Dataset[VideoMeta] =
    decodePayloads(df)((id, b, e) =>
      VideoMeta(id, nBytes(b), "", "", 0.0, 0, 0, 0, ok = false, err = e)) { (id, b) =>
      videoMeta(b).map { v =>
        Iterator(VideoMeta(id, nBytes(b), v.container, v.brand, v.durationMs, v.nTracks,
          v.width, v.height, ok = true, err = ""))
      }
    }

  private[mm] final case class ParsedVideo(
      container: String, brand: String, durationMs: Double,
      nTracks: Int, width: Int, height: Int)

  /** A walked RIFF chunk or ISO-BMFF box: its fourcc and its payload
    * span `[off, end)`. */
  private final case class Part(typ: String, off: Int, end: Int) {
    def size: Int = end - off
  }

  /** RIFF chunks are word-aligned: a pad byte follows an odd size. */
  private def riffPad(size: Long): Long = size & 1

  /** The RIFF chunk walk over `[from, end)`: fourcc, little-endian u32
    * payload size, payload, pad. Lazy, so a caller that stops at the
    * chunk it wants reads nothing past it; a chunk whose size runs past
    * `end` ends the walk with `avi: truncated <scope>chunk`. */
  private def riffChunks(b: Array[Byte], from: Int, end: Int,
      scope: String): Iterator[Either[String, Part]] =
    Iterator.unfold(Option(from.toLong)) {
      case Some(i) if i + 8 <= end =>
        val typ = fourcc(b, i.toInt)
        val sz = le32L(b, i.toInt + 4)
        val part =
          if (i + 8 + sz > end) Left(s"avi: truncated ${scope}chunk '$typ'")
          else Right(Part(typ, (i + 8).toInt, (i + 8 + sz).toInt))
        Some((part, part.toOption.map(_ => i + 8 + sz + riffPad(sz))))
      case _ => None
    }

  /** The ISO-BMFF box walk over `[from, end)`: big-endian u32 box size
    * (header included), then the fourcc; `size == 1` means a 64-bit
    * largesize follows the type, `size == 0` means "to `end`". Sizes are
    * unsigned and compared against `end - i`, so no hostile size can
    * wrap the Long cursor. Lazy like [[riffChunks]]; a bad size ends the
    * walk with `mp4: bad <what> size`, a cut largesize with
    * `mp4: truncated <truncated>`. */
  private def isoBoxes(b: Array[Byte], from: Int, end: Int, what: String,
      truncated: String): Iterator[Either[String, Part]] =
    Iterator.unfold(Option(from.toLong)) {
      case Some(i) if i + 8 <= end =>
        val sz0 = be32L(b, i.toInt)
        val typ = fourcc(b, i.toInt + 4)
        val large = sz0 == 1L
        val hdr = if (large) 16 else 8
        val sz =
          if (large && hdr <= end - i) be64(b, i.toInt + 8)
          else if (sz0 == 0L) end - i
          else sz0
        val part =
          if (hdr > end - i) Left(s"mp4: truncated $truncated")
          else if (sz < hdr || sz > end - i) Left(s"mp4: bad $what size $sz for '$typ'")
          else Right(Part(typ, (i + hdr).toInt, (i + sz).toInt))
        Some((part, part.toOption.map(_ => i + sz)))
      case _ => None
    }

  /** Visit each walked part in order; the first walk or visit error ends
    * the walk and is the result. */
  private def eachPart(parts: Iterator[Either[String, Part]])(
      visit: Part => Either[String, Unit]): Either[String, Unit] =
    parts.map(_.flatMap(visit)).collectFirst { case Left(e) => Left(e) }
      .getOrElse(Right(()))

  /** Container metadata from MP4/ISO-BMFF or AVI/RIFF bytes. */
  private[mm] def videoMeta(b: Array[Byte]): Either[String, ParsedVideo] = {
    if (b == null || b.length < 12) return Left("payload too short")
    if (fourcc(b, 4) == "ftyp") return mp4Meta(b)
    if (fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "AVI ") return aviMeta(b)
    Left("unknown container")
  }

  /** MP4: ftyp brand, moov → mvhd duration, moov → trak → tkhd dims. */
  private def mp4Meta(b: Array[Byte]): Either[String, ParsedVideo] = {
    var brand = ""
    var durationMs = 0.0
    var nTracks = 0
    var width = 0
    var height = 0
    var sawMoov = false
    eachPart(isoBoxes(b, 0, b.length, "box", "largesize box")) { top =>
      top.typ match {
        case "ftyp" =>
          if (top.size >= 4) brand = fourcc(b, top.off).trim
          Right(())
        case "moov" =>
          sawMoov = true
          eachPart(isoBoxes(b, top.off, top.end, "moov child", "moov child")) { c =>
            c.typ match {
              case "mvhd" =>
                // the version-dependent fields must lie inside the mvhd
                // box itself, never in a following sibling's bytes
                val v1 = c.off < c.end && u8(b, c.off) == 1
                val (need, tsAt) = if (v1) (32, 20) else (20, 12)
                if (c.off >= c.end) Left("mp4: empty mvhd")
                else if (c.off + need > c.end)
                  Left(s"mp4: truncated mvhd v${if (v1) 1 else 0}")
                else {
                  val timescale = be32L(b, c.off + tsAt)
                  val duration =
                    if (v1) be64(b, c.off + tsAt + 4) else be32L(b, c.off + tsAt + 4)
                  if (timescale > 0) durationMs = duration * 1000.0 / timescale
                  Right(())
                }
              case "trak" =>
                nTracks += 1
                // tkhd ends with width/height as 16.16 fixed-point words
                eachPart(isoBoxes(b, c.off, c.end, "trak child", "trak child")) { t =>
                  if (t.typ == "tkhd" && t.size >= 8) {
                    val w = (be32L(b, t.end - 8) >> 16).toInt
                    val h = (be32L(b, t.end - 4) >> 16).toInt
                    if (w > 0 && h > 0) { width = w; height = h }
                  }
                  Right(())
                }
              case _ => Right(())
            }
          }
        case _ => Right(())
      }
    }.flatMap { _ =>
      if (!sawMoov && brand.isEmpty) Left("mp4: no ftyp/moov box")
      else Right(ParsedVideo("mp4", brand, durationMs, nTracks, width, height))
    }
  }

  /** A `LIST` chunk whose list type (first payload fourcc) is `ltyp`. */
  private def isList(b: Array[Byte], c: Part, ltyp: String): Boolean =
    c.typ == "LIST" && c.size >= 4 && fourcc(b, c.off) == ltyp

  /** AVI: RIFF → LIST hdrl → avih main header (frame timing at +0/+16,
    * stream count +24, dims +32/+36; all little-endian). The walk stops
    * at the first hdrl. */
  private def aviMeta(b: Array[Byte]): Either[String, ParsedVideo] =
    riffChunks(b, 12, b.length, "").collectFirst {
      case Left(e) => Left(e)
      case Right(l) if isList(b, l, "hdrl") =>
        riffChunks(b, l.off + 4, l.end, "hdrl ").collectFirst {
          case Left(e) => Left(e)
          case Right(c) if c.typ == "avih" =>
            if (c.size < 40) Left("avi: avih too short")
            else Right(ParsedVideo("avi", "", le32L(b, c.off) * le32L(b, c.off + 16) / 1000.0,
              le32L(b, c.off + 24).toInt, le32L(b, c.off + 32).toInt,
              le32L(b, c.off + 36).toInt))
        }.getOrElse(Left("avi: no avih in hdrl"))
    }.getOrElse(Left("avi: no hdrl LIST"))

  /** Typed result of the resize stage: payload out, dims as metadata. */
  final case class ResizedMedia(
      doc_id: Long, resized: Array[Byte], out_w: Int, out_h: Int, ok: Boolean)

  /** REAL bilinear resample over row-major RGB888 pixels (the
    * [[decodePixels]] output schema) — pure JVM arithmetic, no codec
    * needed, so the resize stage joins pixels/PCM/containers on the
    * "real" side of the decoder matrix. Pixel-center sampling (the
    * OpenCV/PIL convention: source coordinate = (dst + 0.5)·scale −
    * 0.5, edge-clamped), channels interpolated independently,
    * half-up rounding — deterministic bytes for a given input, which is
    * what downstream fingerprinting needs. Same per-partition batch
    * shape as the decoders: per-row degrade to `ok = false` (short or
    * empty pixel buffers), never a task failure. */
  def resizePixels(df: DataFrame, w: Int, h: Int): Dataset[ResizedMedia] = {
    // w*h in LONG: 65536x65536 overflows Int to 0 and would pass a
    // positive-dims check, then blow up (or silently emit empty output)
    // at allocation time inside the task
    require(w > 0 && h > 0 && w.toLong * h.toLong <= (1L << 28),
      s"target dims must be positive with w*h <= 2^28, got ${w}x$h")
    val enc = Encoders.product[ResizedMedia]
    df.select(col("doc_id"), col("width"), col("height"), col("pixels"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val iw = r.getInt(1)
          val ih = r.getInt(2)
          val px = r.getAs[Array[Byte]](3)
          if (px == null || iw <= 0 || ih <= 0 || px.length < iw.toLong * ih * 3)
            ResizedMedia(id, Array.emptyByteArray, w, h, ok = false)
          else
            ResizedMedia(id, resampleRgb(px, iw, ih, w, h), w, h, ok = true)
        }
      }(enc)
  }

  /** The bilinear-resample kernel [[resizePixels]] wraps (and
    * [[perceptualHash]] reuses for its canonical-grid step): pixel-
    * center sampling, edge clamp, per-channel interpolation, half-up
    * rounding. Callers guarantee `px.length >= iw*ih*3`. */
  private def resampleRgb(px: Array[Byte], iw: Int, ih: Int,
      w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var y = 0
    var k = 0
    while (y < h) {
      val sy = (y + 0.5) * ih / h - 0.5
      val y0 = math.min(ih - 1, math.max(0, math.floor(sy).toInt))
      val y1 = math.min(ih - 1, y0 + 1)
      val fy = math.min(1.0, math.max(0.0, sy - y0))
      var x = 0
      while (x < w) {
        val sx = (x + 0.5) * iw / w - 0.5
        val x0 = math.min(iw - 1, math.max(0, math.floor(sx).toInt))
        val x1 = math.min(iw - 1, x0 + 1)
        val fx = math.min(1.0, math.max(0.0, sx - x0))
        var c = 0
        while (c < 3) {
          val p00 = px((y0 * iw + x0) * 3 + c) & 0xff
          val p01 = px((y0 * iw + x1) * 3 + c) & 0xff
          val p10 = px((y1 * iw + x0) * 3 + c) & 0xff
          val p11 = px((y1 * iw + x1) * 3 + c) & 0xff
          val v = p00 * (1 - fx) * (1 - fy) + p01 * fx * (1 - fy) +
            p10 * (1 - fx) * fy + p11 * fx * fy
          out(k) = math.min(255L, math.max(0L, math.round(v))).toByte
          k += 1
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Typed result of a REAL video frame-pixel decode: one row per
    * SAMPLED frame, with the per-frame channel means a frame-features
    * pipeline emits. */
  final case class VideoFrame(
      doc_id: Long, frame_no: Int, codec: String, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double, ok: Boolean, err: String)

  /** First video stream's pixel format inside an AVI 'strf'
    * BITMAPINFOHEADER. `streamId` is the stream's index among the
    * strl headers — movi chunk ids are '<NN>dc'/'<NN>db' with NN the
    * zero-padded stream index, so frame chunks of OTHER streams
    * (audio, subtitles) are filtered out by prefix. */
  private[mm] final case class AviVideoFormat(
      streamId: Int, width: Int, height: Int, bitCount: Int, compression: Long)

  /** REAL frame-PIXEL decode for the video encodings a stock JVM can
    * actually decode, inside an AVI container:
    *
    *  - MJPEG ('NNdc' chunks that are standalone JPEGs) via the JDK's
    *    ImageIO JPEG reader;
    *  - uncompressed BI_RGB DIB ('NNdb' chunks: bottom-up BGR rows,
    *    24-bit, 4-byte row padding) via plain byte arithmetic.
    *
    * Every `everyK`-th chunk of the FIRST video stream decodes to a
    * (frame_no, dims, mean RGB) row. Modern compressed codecs
    * (H.264/VP9/AV1) still need an external ImageIO/codec SPI on the
    * executor classpath — such frames keep the documented per-FRAME
    * error channel ("needs an external codec SPI"), never a silent
    * skip, and a non-AVI payload gets one frame_no = -1 error row so
    * every input doc is accounted for in the output. Bomb bounds:
    * `maxFrames` caps emitted rows per video, `maxPixels` caps one
    * frame's decode, every chunk read is bounds-checked. Same
    * payload shell as the other decoders (ImageIO disk cache off once
    * per task). */
  def decodeFrames(df: DataFrame, everyK: Int = 1, maxFrames: Int = 1024,
      maxPixels: Long = 1L << 24): Dataset[VideoFrame] = {
    require(everyK >= 1, s"everyK must be >= 1, got $everyK")
    decodePayloads(df)((id, _, e) =>
      VideoFrame(id, -1, "", 0, 0, 0.0, 0.0, 0.0, ok = false, err = e)) { (id, b) =>
      aviVideoChunks(b).map { case (fmt, chunks) =>
        val prefix = f"${fmt.streamId}%02d"
        chunks.iterator.filter(_._1.startsWith(prefix))
          .zipWithIndex
          .filter { case (_, idx) => idx % everyK == 0 }
          .take(maxFrames)
          .map { case ((ctyp, off, len), idx) =>
            decodeOneFrame(id, idx, ctyp, b, off, len, fmt, maxPixels)
          }
      }
    }
  }

  /** Deterministic synthetic raw-RGB AVI for doc `docId`: container
    * bytes a downstream decoder must treat as REAL video.
    * (docId % 3 + 1) frames of 4×2 uncompressed BI_RGB 24-bit DIB;
    * frame f is the uniform color
    * ((docId·7 + f·13) % 256, (docId·11 + f·17) % 256,
    *  (docId·3 + f·29) % 256). The m02 gate decodes these bytes with
    * [[decodeFrames]] while the DuckDB twin recomputes the expected
    * means straight from this formula — the full container/stride/BGR/
    * bottom-up byte path is cross-checked against an independent
    * derivation that never touches the bytes. Also a handy fixture
    * generator for pipelines that need valid video payloads. */
  def syntheticRgbAvi(docId: Long): Array[Byte] = {
    val w = 4; val h = 2
    val nFrames = (math.floorMod(docId, 3) + 1).toInt
    val stride = ((w * 3 + 3) / 4) * 4
    val le = java.nio.ByteOrder.LITTLE_ENDIAN
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(8 + payload.length + riffPad(payload.length).toInt).order(le)
      bb.put(id.getBytes).putInt(payload.length).put(payload)
      bb.array()
    }
    def list(ltyp: String, children: Array[Byte]*): Array[Byte] = {
      val body = children.toArray.flatten
      val bb = java.nio.ByteBuffer.allocate(12 + body.length).order(le)
      bb.put("LIST".getBytes).putInt(4 + body.length).put(ltyp.getBytes).put(body)
      bb.array()
    }
    val avih = {
      val bb = java.nio.ByteBuffer.allocate(56).order(le)
      bb.putInt(40000).putInt(0).putInt(0).putInt(0)
        .putInt(nFrames).putInt(0).putInt(1).putInt(0).putInt(w).putInt(h)
      bb.array()
    }
    val strh = {
      val bb = java.nio.ByteBuffer.allocate(56).order(le)
      bb.put("vids".getBytes).put("DIB ".getBytes)
      bb.array()
    }
    val strf = {
      val bb = java.nio.ByteBuffer.allocate(40).order(le)
      bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24).putInt(0)
      bb.array()
    }
    val frames = (0 until nFrames).map { f =>
      val r = math.floorMod(docId * 7 + f * 13, 256).toInt
      val g = math.floorMod(docId * 11 + f * 17, 256).toInt
      val bl = math.floorMod(docId * 3 + f * 29, 256).toInt
      val p = new Array[Byte](stride * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          p(y * stride + x * 3) = bl.toByte
          p(y * stride + x * 3 + 1) = g.toByte
          p(y * stride + x * 3 + 2) = r.toByte
          x += 1
        }
        y += 1
      }
      chunk("00db", p)
    }
    val hdrl = list("hdrl", chunk("avih", avih),
      list("strl", chunk("strh", strh), chunk("strf", strf)))
    val movi = list("movi", frames: _*)
    val body = hdrl ++ movi
    val bb = java.nio.ByteBuffer.allocate(12 + body.length).order(le)
    bb.put("RIFF".getBytes).putInt(4 + body.length).put("AVI ".getBytes).put(body)
    bb.array()
  }

  /** One movi chunk → one VideoFrame row (never throws — hostile bytes
    * land in the row's error channel). */
  private def decodeOneFrame(id: Long, frameNo: Int, ctyp: String,
      b: Array[Byte], off: Int, len: Int, fmt: AviVideoFormat,
      maxPixels: Long): VideoFrame = {
    def fail(codec: String, e: String) =
      VideoFrame(id, frameNo, codec, 0, 0, 0.0, 0.0, 0.0, ok = false, err = e)
    def tooBig(w: Int, h: Int) = w.toLong * h.toLong > maxPixels
    // per-channel means of row-major RGB888 pixels
    def means(codec: String, w: Int, h: Int, px: Array[Byte]) = {
      val sum = new Array[Long](3)
      for (k <- px.indices) sum(k % 3) += px(k) & 0xff
      val n = w.toLong * h
      VideoFrame(id, frameNo, codec, w, h,
        sum(0).toDouble / n, sum(1).toDouble / n, sum(2).toDouble / n, ok = true, err = "")
    }
    try {
      if (ctyp.endsWith("db")) {
        // uncompressed DIB: validate against the strf header
        if (fmt.compression != 0L || fmt.bitCount != 24)
          return fail("dib", s"unsupported DIB format: biCompression=${fmt.compression} " +
            s"biBitCount=${fmt.bitCount} (only BI_RGB 24-bit)")
        val w = fmt.width
        val h = math.abs(fmt.height)
        if (w <= 0 || h <= 0) return fail("rgb24", s"bad dims ${w}x$h")
        if (tooBig(w, h)) return fail("rgb24", s"${w}x$h exceeds maxPixels=$maxPixels")
        val stride = ((w * 3 + 3) / 4) * 4
        if (stride.toLong * h > len)
          return fail("rgb24", s"chunk $len bytes < ${stride.toLong * h} for ${w}x$h rgb24")
        // BGR rows; positive biHeight = bottom-up row order (the DIB default)
        val px = new Array[Byte](w * h * 3)
        for (y <- 0 until h; x <- 0 until w) {
          val p = off + (if (fmt.height > 0) h - 1 - y else y) * stride + x * 3
          val k = (y * w + x) * 3
          px(k) = b(p + 2)
          px(k + 1) = b(p + 1)
          px(k + 2) = b(p)
        }
        means("rgb24", w, h, px)
      } else if (len >= 2 && u8(b, off) == 0xff && u8(b, off + 1) == 0xd8) {
        // MJPEG: the chunk is a standalone JPEG, its SOF size checked
        // before ImageIO allocates a raster
        imageDims(java.util.Arrays.copyOfRange(b, off, off + len)) match {
          case Right((_, w, h)) if tooBig(w, h) =>
            return fail("mjpeg", s"${w}x$h exceeds maxPixels=$maxPixels")
          case _ =>
        }
        val img = ImageIO.read(new ByteArrayInputStream(b, off, len))
        if (img == null) return fail("mjpeg", "JPEG reader returned null")
        val w = img.getWidth
        val h = img.getHeight
        if (tooBig(w, h)) return fail("mjpeg", s"${w}x$h exceeds maxPixels=$maxPixels")
        means("mjpeg", w, h, rgb888(img))
      } else
        fail("", s"compressed '$ctyp' frame is not MJPEG — decoding it " +
          "needs an external codec SPI on the executor classpath")
    } catch {
      case e: Exception =>
        fail("", s"frame decode: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** The first video stream's format + the movi chunk directory
    * (fourcc, payload offset, payload length). Bounds-checked walk —
    * truncated or hostile sizes error instead of throwing. */
  private[mm] def aviVideoChunks(b: Array[Byte]):
      Either[String, (AviVideoFormat, Vector[(String, Int, Int)])] = {
    if (b == null || b.length < 12) return Left("payload too short")
    if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
      return Left("not an AVI payload")
    var fmt: Option[AviVideoFormat] = None
    val chunks = Vector.newBuilder[(String, Int, Int)]
    // a 'vids' strh makes the strl's strf the video format
    def strl(s: Part, streamIdx: Int): Either[String, Unit] = {
      var isVids = false
      eachPart(riffChunks(b, s.off + 4, s.end, "strl ")) { c =>
        if (c.typ == "strh" && c.size >= 4 && fourcc(b, c.off) == "vids") isVids = true
        if (c.typ != "strf" || !isVids) Right(())
        else if (c.size < 20) Left("avi: strf too short for BITMAPINFOHEADER")
        else {
          fmt = Some(AviVideoFormat(streamIdx, le32L(b, c.off + 4).toInt,
            le32L(b, c.off + 8).toInt, le16(b, c.off + 14), le32L(b, c.off + 16)))
          Right(())
        }
      }
    }
    eachPart(riffChunks(b, 12, b.length, "")) {
      case l if isList(b, l, "hdrl") =>
        // the Nth strl is stream N; the first video stream sets the format
        var streamIdx = -1
        eachPart(riffChunks(b, l.off + 4, l.end, "hdrl ")) { s =>
          if (!isList(b, s, "strl")) Right(())
          else {
            streamIdx += 1
            if (fmt.isEmpty) strl(s, streamIdx) else Right(())
          }
        }
      case l if isList(b, l, "movi") =>
        eachPart(riffChunks(b, l.off + 4, l.end, "movi ")) { c =>
          if (c.typ.endsWith("dc") || c.typ.endsWith("db")) chunks += ((c.typ, c.off, c.size))
          Right(())
        }
      case _ => Right(())
    }.flatMap { _ =>
      fmt.toRight("avi: no video stream ('vids' strh + strf) in hdrl")
        .map((_, chunks.result()))
    }
  }

  /** Typed result of a REAL perceptual-hash pass: the canonical 64-bit
    * dHash split into two non-negative 32-bit halves (`phash_hi` bits
    * 32-63, `phash_lo` bits 0-31) so BOTH engines stay inside exact
    * BIGINT arithmetic — a single 64-bit value would need bit 63 and
    * overflow a SQL BIGINT sum. */
  final case class PerceptualHash(
      doc_id: Long, format: String, width: Int, height: Int,
      phash_hi: Long, phash_lo: Long, ok: Boolean, err: String)

  /** dHash grid dims (the canonical 9x8: 8 horizontal gradients x 8
    * rows = 64 bits). */
  private val DHashW = 9
  private val DHashH = 8

  /** REAL image perceptual hash — the image-dedup op of a multimodal
    * training pipeline: decode the payload ([[decodePixels]], real
    * javax.imageio), bilinear-resample the pixels to the canonical
    * 9x8 dHash grid ([[resizePixels]]'s kernel; skipped exactly when
    * the decode already IS 9x8), then emit one bit per horizontal
    * gradient of the R channel: bit (y*8+x) set iff R(x+1,y) > R(x,y).
    * Gradient hashes are translation-of-brightness invariant, which is
    * what makes dHash a NEAR-dup key: re-encoded/resized copies of an
    * image land on the same 64 bits, so exact grouping on
    * (phash_hi, phash_lo) is the image twin of d09's text dedup, and
    * hamming-distance banding over the halves extends it to d07-style
    * LSH. Scale shape: scan-parallel per-row map (decode + hash), ZERO
    * exchanges — grouping/banding downstream shuffles 2 longs per
    * image, never pixels. */
  def perceptualHash(df: DataFrame): Dataset[PerceptualHash] = {
    val enc = Encoders.product[PerceptualHash]
    decodePixels(df).map { d =>
      if (!d.ok)
        PerceptualHash(d.doc_id, d.format, d.width, d.height, 0L, 0L,
          ok = false, err = d.err)
      else {
        val grid =
          if (d.width == DHashW && d.height == DHashH) d.pixels
          else resampleRgb(d.pixels, d.width, d.height, DHashW, DHashH)
        var hi = 0L
        var lo = 0L
        var y = 0
        while (y < DHashH) {
          var x = 0
          while (x < DHashW - 1) {
            val a = grid((y * DHashW + x) * 3) & 0xff
            val b = grid((y * DHashW + x + 1) * 3) & 0xff
            if (b > a) {
              val idx = y * 8 + x
              if (idx >= 32) hi |= 1L << (idx - 32) else lo |= 1L << idx
            }
            x += 1
          }
          y += 1
        }
        PerceptualHash(d.doc_id, d.format, d.width, d.height, hi, lo,
          ok = true, err = "")
      }
    }(enc)
  }

  /** Typed result of a REAL audio feature-extraction pass: one row per
    * analysis window, with the window's sample count and total absolute
    * amplitude in EXACT integer raw-PCM units (Σ|s16|) — the
    * energy-envelope fingerprint an audio-dedup/segmentation pipeline
    * keys on, integer so both engines agree bit-for-bit. */
  final case class AudioWindow(
      doc_id: Long, win_no: Long, n_samples: Long, energy: Long,
      ok: Boolean, err: String)

  /** REAL audio windowed-energy fingerprint — the feature-extract op of
    * a multimodal training pipeline: decode the payload's linear PCM
    * (real `javax.sound.sampled`, same container support as
    * [[decodeAudio]]), then emit per consecutive `window` samples the
    * channel-folded Σ|amplitude| in raw int16 units. The envelope rows
    * are an audio clip's dedup/segmentation key the way
    * [[perceptualHash]]'s bits are an image's. 8-bit PCM upscales to
    * int16 units (<<8) so the fingerprint is bit-depth-stable. Scale
    * shape: scan-parallel per-row decode, ZERO exchanges — downstream
    * grouping shuffles (win_no, energy) longs, never audio bytes.
    * Non-PCM encodings and bombs ride [[decodeAudio]]'s error-channel
    * discipline. */
  def audioFingerprint(df: DataFrame, window: Int = 16,
      maxFrames: Long = 1L << 24): Dataset[AudioWindow] = {
    require(window >= 1, s"window must be >= 1, got $window")
    decodePayloads(df)((id, _, e) =>
      AudioWindow(id, -1L, 0L, 0L, ok = false, err = e)) { (id, b) =>
      if (b == null || b.isEmpty) Left("empty payload")
      else Using.resource(AudioSystem.getAudioInputStream(new ByteArrayInputStream(b))) { in =>
        val f = in.getFormat
        if (in.getFrameLength > maxFrames)
          Left(s"${in.getFrameLength} frames exceeds maxFrames=$maxFrames")
        else if (!linearPcm(f))
          Left(s"not linear PCM: ${f.getEncoding}/${f.getSampleSizeInBits}-bit")
        else {
          val out = Vector.newBuilder[AudioWindow]
          var win = 0L
          var cnt = 0L
          var energy = 0L
          forEachSample16(readFrames(in), f) { s =>
            energy += math.abs(s)
            cnt += 1
            if (cnt == window) {
              out += AudioWindow(id, win, cnt, energy, ok = true, err = "")
              win += 1; cnt = 0L; energy = 0L
            }
          }
          if (cnt > 0) out += AudioWindow(id, win, cnt, energy, ok = true, err = "")
          Right(out.result().iterator)
        }
      }
    }
  }

  /** Deterministic synthetic 16-bit mono PCM WAV for doc `docId`: REAL
    * RIFF/WAVE bytes. 40 + (docId%5)*10 frames at 8 kHz; sample i =
    * (((docId%8)*37 + i*11) % 256 − 128) · 256 — the m04 gate's
    * [[audioFingerprint]] over the DECODED stream must reproduce the
    * windowed Σ|amplitude| the DuckDB twin derives from this formula
    * alone, cross-checking container, decoder, and fingerprint. The
    * frame counts are NOT window multiples, so partial trailing windows
    * are always exercised. Replica offsets (+r·10⁸) preserve both
    * docId%8 and docId%5. */
  def syntheticPcmWav(docId: Long): Array[Byte] = {
    val base = math.floorMod(docId, 8).toInt
    val n = (40 + math.floorMod(docId, 5) * 10).toInt
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(n * 2)
    var i = 0
    while (i < n) {
      bb.putShort((((base * 37 + i * 11) % 256 - 128) * 256).toShort)
      i += 1
    }
    bb.array()
  }

  /** Deterministic synthetic grayscale PNG for doc `docId`: REAL PNG
    * bytes (ImageIO encoder) a downstream decoder must treat as a real
    * image. 9x8 RGB pixels with r=g=b =
    * ((docId%16)*31 + x*29 + y*13) % 256 — PNG is lossless, so the m03
    * gate's [[perceptualHash]] over the DECODED bytes must reproduce
    * the dHash the DuckDB twin derives from this formula alone (bit =
    * value+29 not wrapping mod 256), cross-checking encoder, decoder,
    * and hash against an independent derivation. doc_id%16 bases give
    * 16 duplicate groups per corpus — the image-dedup regime. Replica
    * offsets (tools/replicate.py, +r*10^8) preserve the base because
    * 16 divides 10^8. */
  def syntheticGrayPng(docId: Long): Array[Byte] = {
    val base = math.floorMod(docId, 16).toInt
    val img = new java.awt.image.BufferedImage(
      DHashW, DHashH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < DHashH) {
      var x = 0
      while (x < DHashW) {
        val v = (base * 31 + x * 29 + y * 13) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.setUseCache(false)
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
