package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** e21's OPQ-lite rotation in exact integer micro-units: micro-quantize
  * each component ([[UnaryKernel.microQ]], the [[graft.queries.Sim]]
  * microQ discipline, so both engines produce the same long), flip
  * signs by a seeded per-dimension pattern, then apply
  * the unnormalized Walsh–Hadamard mix
  * `r_i = Σ_j (-1)^popcount(i AND j) · s_j · m_j` — the randomized-
  * Hadamard rotation OPQ-lite uses to spread correlated energy across
  * PQ subspaces before the nibble codebooks train. Everything after the
  * micro-quantization is long addition, so the rotated vectors are
  * BIT-DETERMINISTIC cross-engine (the DuckDB twin evaluates the same
  * popcount formula) and order-independent.
  *
  * For power-of-two dimensions H is orthogonal (HHᵀ = d·I), so rotated
  * squared distances are exactly d× the originals and ADC rankings are
  * preserved-in-principle; the popcount formula itself is evaluated for
  * ANY length, which is what keeps the two engines trivially identical
  * (no padding rules to mirror). The sign seed s_j flips on
  * popcount((j+1)·2654435769) — the golden-ratio hash constant 0x9E3779B9, fixed
  * forever because the trained codebooks depend on it.
  *
  * Null semantics: a null array OR any null element yields NULL (a
  * rotation mixes every dimension into every output, so one missing
  * component poisons the whole rotated vector — such vectors are
  * excluded from the e21 index, mirroring the null-vector gate's
  * "unscoreable vectors are excluded" rule; the SQL twin excludes them
  * with a list_filter null-count guard).
  */
case class OpqRotateMicro(child: Expression)
    extends UnaryKernel[ArrayData, ArrayData](ArrayType(FloatType), "opq_rotate_micro") {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Null when any element is null (see class scaladoc). O(d²) popcount
    * loop — 4096 long ops for 64 dims, microseconds per row, and VERBATIM
    * the oracle's SQL formula so parity needs no proof about butterfly
    * associativity on non-power-of-two lengths. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val x = new Array[Long](n)
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) return null
      val m = UnaryKernel.microQ(arr.getFloat(j))
      x(j) = if (java.lang.Long.bitCount((j + 1L) * 2654435769L) % 2 == 0) m else -m
      j += 1
    }
    val r = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var k = 0
      while (k < n) {
        acc += (if (java.lang.Long.bitCount((i & k).toLong) % 2 == 0) x(k) else -x(k))
        k += 1
      }
      r(i) = acc
      i += 1
    }
    new GenericArrayData(r)
  }
}

object OpqExprs {
  /** array<float> → array<long>: seeded-sign Walsh–Hadamard rotation of
    * the micro-quantized vector; null on null array or any null element
    * (see [[OpqRotateMicro]]). */
  def opqRotateMicro(v: Column): Column = UnaryKernel.column(v)(OpqRotateMicro(_))
}
