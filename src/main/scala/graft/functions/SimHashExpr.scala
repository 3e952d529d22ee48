package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for the 16-bit SimHash signature
  * (queries/Docs.scala d08): per token, bit j of the sketch votes +1 if
  * the j-th hex nibble of md5(token) has its high bit set (hex digit
  * 8-f), else -1; signature bit j is set iff the vote sum is strictly
  * positive.
  *
  * The pure-builtin formulation explodes the token set, materializes
  * the md5 hex string, and runs 16 substring+IN aggregations through a
  * per-doc groupBy shuffle. This expression turns the whole sketch into
  * a per-row MAP: one MD5 per token, nibbles read straight from the
  * digest bytes, all 16 vote counters updated in a tight loop — no
  * explode, no shuffle, bit-identical results (hex digit ≥ '8' ⇔
  * nibble value ≥ 8).
  *
  * Returns null for a null array or an array with no non-null token —
  * mirroring the builtin's explode, which emits no row for such a doc
  * (callers filter nulls to match); a doc whose every vote ties or goes
  * negative yields 0, which stays distinguishable from absent.
  */
case class SimHash16(child: Expression)
    extends UnaryKernel[ArrayData, java.lang.Long](ArrayType(StringType), "simhash16") {

  override def dataType: DataType = LongType

  /** One pass over the token array → signature, or null if no non-null
    * token exists (the builtin explode emits no row for that doc). */
  def compute(arr: ArrayData): java.lang.Long = {
    val sums = new Array[Int](SimHash16.Bits)
    var found = false
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        found = true
        val d = UnaryKernel.md5(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < SimHash16.Bits) {
          val b = d(j >> 1)
          val nib = if ((j & 1) == 0) (b >> 4) & 0xf else b & 0xf
          sums(j) += (if (nib >= 8) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    if (!found) return null
    var code = 0L
    var j = 0
    while (j < SimHash16.Bits) {
      if (sums(j) > 0) code |= (1L << j)
      j += 1
    }
    code
  }
}

object SimHash16 {

  val Bits = 16
}

object SimHashExpr {
  /** Column wrapper over [[SimHash16]] (array<string> tokens → long). */
  def simHash16(tokens: Column): Column = UnaryKernel.column(tokens)(SimHash16(_))
}
