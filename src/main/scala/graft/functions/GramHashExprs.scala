package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The xxhash64 of every word `n`-gram of a text, in document order, in
  * ONE compiled byte pass: element `i` is bit-identical to
  * `xxhash64(ngramAt(words(text), i + 1, n))` — Spark's XXH64, seed 42,
  * over the `n` tokens joined by one 0x20 byte.
  *
  * Tokens are the maximal runs of non-`\s` bytes that
  * [[UnaryKernel.tokenStart]]/[[UnaryKernel.tokenEnd]] find, so they
  * split exactly where `words` splits; a blank text is `words`' one empty
  * token. A gram whose gaps are each one 0x20 byte is hashed in place
  * over the text's own bytes; any other gram is first copied into one
  * scratch buffer with its gaps collapsed.
  *
  * This replaces the shape
  * `exists(sequence(1, size(ws) - n + 1), i => f(xxhash64(ngramAt(ws, i, n))))`,
  * whose lambda re-tokenizes the text per element once a Filter above the
  * bound `ws` is pushed down with the alias substituted (BENCH_NOTES): a
  * lambda over this kernel's output reads only its own element.
  * Fewer than `n` tokens → empty array; null text → null. */
case class GramHashes(child: Expression, n: Int)
    extends UnaryKernel[UTF8String, ArrayData](StringType, "gram_hashes") {
  require(n >= 1, s"gram_hashes needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val nb = text.numBytes
    var st = new Array[Int](16)
    var en = new Array[Int](16)
    var k = 0
    var i = UnaryKernel.tokenStart(text, 0)
    while (i < nb) {
      if (k == st.length) {
        st = java.util.Arrays.copyOf(st, 2 * k)
        en = java.util.Arrays.copyOf(en, 2 * k)
      }
      st(k) = i
      en(k) = UnaryKernel.tokenEnd(text, i)
      i = UnaryKernel.tokenStart(text, en(k))
      k += 1
    }
    if (k == 0) k = 1 // `words` of a blank text: one empty token at 0
    val m = k - n + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // dirty(j): how many of the gaps before token j are not one 0x20 byte
    val dirty = new Array[Int](k)
    var j = 1
    while (j < k) {
      val single = st(j) - en(j - 1) == 1 && text.getByte(en(j - 1)) == 0x20
      dirty(j) = dirty(j - 1) + (if (single) 0 else 1)
      j += 1
    }
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var buf: Array[Byte] = null
    val out = new Array[Long](m)
    var g = 0
    while (g < m) {
      val last = g + n - 1
      out(g) =
        if (dirty(last) == dirty(g)) XXH64.hashUnsafeBytes(base, off + st(g), en(last) - st(g), 42L)
        else {
          if (buf == null) buf = new Array[Byte](nb)
          var len = 0
          var t = g
          while (t <= last) {
            if (t > g) { buf(len) = 0x20; len += 1 }
            val w = en(t) - st(t)
            Platform.copyMemory(base, off + st(t), buf, Platform.BYTE_ARRAY_OFFSET + len, w)
            len += w
            t += 1
          }
          XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
        }
      g += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object GramHashExprs {
  /** text → array of the xxhash64 of each word `n`-gram (see [[GramHashes]]). */
  def gramHashes(text: Column, n: Int): Column = UnaryKernel.column(text)(GramHashes(_, n))
}
