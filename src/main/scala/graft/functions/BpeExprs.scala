package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression fusing d41's BPE encode
  * (queries/Docs.scala [[graft.queries.Docs.bpeEncodeCols]]) into ONE
  * per-row pass structure: the builtin spelling pays a per-CHAR
  * regexp_replace to build the spaced base, then |merges|×passes full
  * `replace` traversals each allocating an intermediate UTF8String
  * (8×4 = 32 at the shipped config — the battery's biggest absolute
  * cost at sf1), then a regexp_extract_all pass to count symbols and
  * an interpreted `aggregate` HOF for chars_total. Here the base is
  * built byte-wise (the elig vocabulary is pinned ASCII `[a-z0-9]+`,
  * so bytes == chars), each merge pass is the SAME
  * leftmost-non-overlapping continue-after-replacement scan
  * `UTF8String.replace`/Java `String.replace` performs — re-expressed
  * as a ping-pong copy between two preallocated buffers (a pattern
  * " a b " → " ab " replacement never grows the string) with an
  * identical-result early exit when a pass changes nothing — and the
  * symbol count is a run-count over the final bytes (every maximal
  * `[a-z0-9]+` run IS one symbol; ' '/'/' separate runs exactly as the
  * regex did). Byte-for-byte equality with the replace chain is pinned
  * by BpeApplySpec's fused≡chain property test on seeded random
  * corpora plus the hand-simulated merge fixtures.
  *
  * Input: the bound `elig` array (non-null elements by construction —
  * it is `filter(words(text), …)` of a non-null text). Null array →
  * null row (mirrors the builtin chain under a null input).
  * Output: struct(n_words, chars_total, syms_total, enc) — enc_fp is
  * md5(enc) via the codegen'd builtin outside.
  */
case class BpeEncodeStats(child: Expression, merges: Seq[String], passes: Int)
    extends UnaryKernel[ArrayData, InternalRow](ArrayType(StringType), "bpe_encode_stats") {

  override def dataType: DataType = BpeEncodeStats.schema

  // the merge table: k two-char ASCII pairs, literal-model sized
  @transient private lazy val mA: Array[Byte] = merges.map(_.charAt(0).toByte).toArray
  @transient private lazy val mB: Array[Byte] = merges.map(_.charAt(1).toByte).toArray

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    // base = " " + per-char spacing of concat_ws(" / ", elig): every
    // char (word chars, the joint spaces, '/') gets a trailing space
    var joinLen = if (n == 0) 0 else 3 * (n - 1)
    val wordBytes = new Array[Array[Byte]](n)
    var chars = 0L
    var i = 0
    while (i < n) {
      val w = arr.getUTF8String(i).getBytes
      wordBytes(i) = w
      chars += w.length
      joinLen += w.length
      i += 1
    }
    val baseLen = 1 + 2 * joinLen
    var src = new Array[Byte](baseLen)
    var dst = new Array[Byte](baseLen)
    var o = 0
    src(o) = ' '; o += 1
    i = 0
    while (i < n) {
      if (i > 0) { // " / " joint, spaced: ' ',' ','/',' ',' ',' '
        src(o) = ' '; src(o + 1) = ' '; src(o + 2) = '/'
        src(o + 3) = ' '; src(o + 4) = ' '; src(o + 5) = ' '
        o += 6
      }
      val w = wordBytes(i)
      var j = 0
      while (j < w.length) { src(o) = w(j); src(o + 1) = ' '; o += 2; j += 1 }
      i += 1
    }
    var len = o
    // merge passes: exact replace(" a b ", " ab ") semantics — scan
    // left to right, on a match emit the merged form and resume AFTER
    // the consumed window (the trailing space is consumed, so an
    // immediately following pair waits for the next pass — the
    // documented separator-consumed-middle behavior)
    var m = 0
    while (m < mA.length) {
      val a = mA(m); val b = mB(m)
      var p = 0
      var changed = true
      while (p < passes && changed) {
        changed = false
        var ii = 0
        var oo = 0
        val lim = len - 4
        while (ii < lim) {
          if (src(ii) == ' ' && src(ii + 1) == a && src(ii + 2) == ' ' &&
              src(ii + 3) == b && src(ii + 4) == ' ') {
            dst(oo) = ' '; dst(oo + 1) = a; dst(oo + 2) = b; dst(oo + 3) = ' '
            oo += 4; ii += 5; changed = true
          } else { dst(oo) = src(ii); oo += 1; ii += 1 }
        }
        while (ii < len) { dst(oo) = src(ii); oo += 1; ii += 1 }
        if (changed) { val t = src; src = dst; dst = t; len = oo }
        p += 1
      }
      m += 1
    }
    // symbol count: maximal [a-z0-9]+ runs of the final bytes
    var syms = 0L
    var inRun = false
    var k = 0
    while (k < len) {
      val c = src(k)
      val al = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (al && !inRun) syms += 1
      inRun = al
      k += 1
    }
    new GenericInternalRow(Array[Any](
      n.toLong, chars, syms, UTF8String.fromBytes(src, 0, len)))
  }
}

object BpeEncodeStats {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("chars_total", LongType, nullable = false),
    StructField("syms_total", LongType, nullable = false),
    StructField("enc", StringType, nullable = false)))
}

object BpeExprs {
  /** Column wrapper over [[BpeEncodeStats]]: array<string> →
    * struct(n_words, chars_total, syms_total, enc). */
  def bpeEncodeStats(elig: Column, merges: Seq[String], passes: Int): Column =
    UnaryKernel.column(elig)(BpeEncodeStats(_, merges, passes))
}
