package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** d11's order-sensitive document fingerprint in ONE compiled byte
  * pass: the rolling polynomial hash
  * `acc := (acc·31 + code(token)) mod 1000000007` with
  * `code = ascii(first char)·256 + ascii(last char)·16 + charlen`,
  * folded left over the whitespace tokens.
  *
  * Replaces the interpreted per-row chain the first formulation paid —
  * `words(text)` (a regex collapse + trim + split allocating the token
  * array), a `transform` evaluating three builtins per token, and an
  * interpreted `aggregate` HOF — with a single zero-allocation scan:
  * tokens are maximal runs of non-`\s` bytes (Java-regex `\s` is six
  * ASCII bytes, all < 0x80, so UTF-8 byte splitting lands on exactly
  * the same boundaries — the [[Bm25DocStats]] argument), and first/last
  * code points + char counts come from inline UTF-8 decoding (char
  * starts are never continuation bytes, so the whitespace check and the
  * decode never disagree about boundaries).
  *
  * Null text → 0 (the oracle's `list_prepend(0, NULL)` convention) and
  * blank text → 0 — the same values the builtin chain's
  * `coalesce(aggregate(...), 0)` produced, since a lone empty token's
  * code is 0 and folding 0 leaves the accumulator at 0. Pinned to the
  * builtin formulation on adversarial inputs (multibyte, astral-plane,
  * blank, null) by RollingHashExprsSpec. */
case class RollingHash(child: Expression)
    extends UnaryKernel[UTF8String, Long](StringType, "rolling_hash", 0L) {

  override def dataType: DataType = LongType

  /** One byte pass: per whitespace token, decode the first and last
    * code points and count chars inline, fold the token code into the
    * rolling product. Zero allocation. */
  def compute(text: UTF8String): Long = {
    var acc = 0L
    var i = UnaryKernel.tokenStart(text, 0)
    while (i < text.numBytes) {
      var first = -1L
      var last = 0L
      var chars = 0L
      // decoded as it scans: a char start is never a continuation byte
      while (i < text.numBytes && !UnaryKernel.isWs(text.getByte(i))) {
        val b0 = text.getByte(i) & 0xff
        var cp = 0
        var len = 1
        if (b0 < 0x80) cp = b0
        else if ((b0 & 0xe0) == 0xc0) {
          len = 2
          cp = ((b0 & 0x1f) << 6) | (text.getByte(i + 1) & 0x3f)
        } else if ((b0 & 0xf0) == 0xe0) {
          len = 3
          cp = ((b0 & 0x0f) << 12) | ((text.getByte(i + 1) & 0x3f) << 6) |
            (text.getByte(i + 2) & 0x3f)
        } else {
          len = 4
          cp = ((b0 & 0x07) << 18) | ((text.getByte(i + 1) & 0x3f) << 12) |
            ((text.getByte(i + 2) & 0x3f) << 6) | (text.getByte(i + 3) & 0x3f)
        }
        if (first < 0) first = cp.toLong
        last = cp.toLong
        chars += 1
        i += len
      }
      acc = (acc * 31L + (first * 256L + last * 16L + chars)) % 1000000007L
      i = UnaryKernel.tokenStart(text, i)
    }
    acc
  }
}

object RollingHashExprs {
  /** text → rolling polynomial fingerprint (long; null/blank text → 0),
    * one compiled byte pass (see [[RollingHash]]). */
  def rollingHash(text: Column): Column = UnaryKernel.column(text)(RollingHash(_))
}
