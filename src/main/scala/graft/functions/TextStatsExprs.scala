package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the d02/d03 text-analysis shape
  * (queries/Docs.scala): ONE byte pass over the raw text yields the
  * whitespace-token count, the normalized character count, and a hit
  * count per marker-word group — replacing the builtin formulation's
  * regexp collapse + split allocation + one interpreted higher-order
  * `filter` lambda PER GROUP (d03 paid three). Semantics are pinned to
  * the builtin chain `split(trim(regexp_replace(text, "\\s+", " ")), " ")`:
  *
  *  - tokens are maximal runs of non-whitespace, where whitespace is
  *    Java regex `\s` = { space, \t, \n, \x0B, \f, \r } — all ASCII
  *    bytes, so byte-level scanning is exact even on multibyte UTF-8
  *    (continuation bytes 0x80+ never collide with those values);
  *  - an all-whitespace or empty text normalizes to "" whose split is
  *    `[""]` — ONE empty token that matches no marker (the builtin
  *    `size(ws)` = 1 quirk, preserved here as n_tokens = 1);
  *  - n_chars_norm = `length(normWs(text))` = Σ token CHAR lengths
  *    (UTF8 numChars, i.e. non-continuation bytes) + (n_tokens − 1)
  *    single-space separators, 0 for the empty case;
  *  - marker matching is exact byte equality (UTF-8 is injective), so
  *    it equals the builtin `x.isin(group: _*)` element filter.
  *
  * Null input → null struct (mirrors the builtin chain, where a null
  * text nulls every derived column). Bit-equivalence with the builtin
  * formulation, including unicode/tab/empty edge cases, is pinned by
  * TextStatsExprsSpec.
  */
case class MarkerStats(child: Expression, groups: Seq[Seq[String]])
    extends UnaryKernel[UTF8String, InternalRow](StringType, "marker_stats") {

  override def dataType: DataType = MarkerStats.schemaFor(groups.size)

  // Marker tables precompiled to UTF-8 byte arrays. Matching compares a
  // token's byte range against each marker of the same length — the
  // marker lists are tiny (≤ a handful of short words), so a linear
  // probe beats hashing a fresh UTF8String slice per token.
  @transient private lazy val markerBytes: Array[Array[Byte]] =
    groups.flatMap(_.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))).toArray
  @transient private lazy val markerGroup: Array[Int] =
    groups.zipWithIndex.flatMap { case (g, i) => g.map(_ => i) }.toArray

  def compute(text: UTF8String): InternalRow = {
    var nTokens = 0L
    var nChars = 0L // non-continuation bytes inside tokens
    val hits = new Array[Long](groups.size)
    var i = UnaryKernel.tokenStart(text, 0)
    while (i < text.numBytes) {
      val end = UnaryKernel.tokenEnd(text, i)
      nTokens += 1
      var j = i
      while (j < end) { if ((text.getByte(j) & 0xC0) != 0x80) nChars += 1; j += 1 }
      // marker probe: byte-exact equality against each marker
      var m = 0
      while (m < markerBytes.length) {
        val mb = markerBytes(m)
        if (mb.length == end - i) {
          var k = 0
          while (k < mb.length && mb(k) == text.getByte(i + k)) k += 1
          if (k == mb.length) hits(markerGroup(m)) += 1
        }
        m += 1
      }
      i = UnaryKernel.tokenStart(text, end)
    }
    // normWs = "" splits to [""]: one empty token, zero chars
    val out = new Array[Any](2 + groups.size)
    out(0) = math.max(nTokens, 1L)
    out(1) = if (nTokens == 0L) 0L else nChars + (nTokens - 1L)
    var g = 0
    while (g < groups.size) { out(2 + g) = hits(g); g += 1 }
    new GenericInternalRow(out)
  }
}

object MarkerStats {

  def schemaFor(nGroups: Int): StructType = StructType(
    StructField("n_tokens", LongType, nullable = false) +:
    StructField("n_chars_norm", LongType, nullable = false) +:
    (0 until nGroups).map(i => StructField(s"g$i", LongType, nullable = false)))

  def markerStats(text: Column, groups: Seq[Seq[String]]): Column =
    UnaryKernel.column(text)(MarkerStats(_, groups))
}

/** Native Catalyst expression for d10's BPE-ish token counting
  * (queries/Docs.scala): ONE byte pass counts the maximal runs of each
  * character class, replacing THREE `regexp_extract_all` passes that
  * each materialized a match array only to take its size. Semantics are
  * pinned to the regex `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+` scanned left
  * to right: because the alternation's branches are disjoint single
  * character classes, its match sequence is exactly the sequence of
  * maximal same-class runs, with the SPACE character (0x20 only — tabs
  * and newlines are `other`!) as the sole non-matching separator.
  * Multibyte UTF-8 characters classify as `other` byte-by-byte
  * (lead and continuation bytes are all ≥ 0x80), so byte-level run
  * detection merges them into the same `other` run the regex sees.
  *
  * Null input → null struct (the builtin `size(regexp_extract_all)` of
  * a null text is null). Bit-equivalence with the builtin formulation
  * is pinned by TextStatsExprsSpec.
  */
case class BpeRunStats(child: Expression)
    extends UnaryKernel[UTF8String, InternalRow](StringType, "bpe_run_stats") {

  override def dataType: DataType = BpeRunStats.schema

  def compute(text: UTF8String): InternalRow = {
    var nBpe = 0L; var nAlpha = 0L; var nNum = 0L
    var prev = 0 // separator: any class change from it starts a run
    var i = 0
    while (i < text.numBytes) {
      val c = BpeRunStats.clazz(text.getByte(i))
      if (c != 0 && c != prev) {
        nBpe += 1
        if (c == 1) nAlpha += 1 else if (c == 2) nNum += 1
      }
      prev = c
      i += 1
    }
    new GenericInternalRow(Array[Any](nBpe, nAlpha, nNum))
  }
}

object BpeRunStats {

  val schema: StructType = StructType(Seq(
    StructField("n_bpe", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_num", LongType, nullable = false)))

  // character classes: 0 = space (separator), 1 = alpha, 2 = digit, 3 = other
  private def clazz(b: Byte): Int =
    if (b == ' ') 0
    else if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) 1
    else if (b >= '0' && b <= '9') 2
    else 3

  def bpeRunStats(text: Column): Column =
    UnaryKernel.column(text)(BpeRunStats(_))
}
