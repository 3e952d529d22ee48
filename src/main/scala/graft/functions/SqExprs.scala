package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, FloatType, LongType}

/** Codegen'd int8 scalar-quantization kernel — the PRODUCTION shape of
  * the e13 gate: at 100 TB you don't keep quantized components in long
  * format (vec_id, pos, q) rows; you materialize ONE packed byte per
  * dimension ([[SqEncode]] → a `binary` codes column, 4× smaller than
  * float32) and scan THAT with an integer asymmetric-distance kernel
  * ([[SqAdc]]) fused into whole-stage codegen. Both expressions compute
  * the gate's EXACT integer arithmetic (micro-quantize → affine
  * half-away code → integer dot), so the production path is spec-pinned
  * equal to the oracle-checked formulation (SqSpec).
  *
  * Per-dim stats ride along as constructor constants — dim-sized,
  * trivially driver-resident at any corpus scale,
  * exactly like [[KMeansArgMin]]'s model.
  */
case class SqEncode(
    child: Expression,
    lo: Array[Long],
    hi: Array[Long])
    extends UnaryKernel[ArrayData, Array[Byte]](ArrayType(FloatType), "sq_encode") {

  require(lo.length == hi.length, "per-dim stats arrays must be parallel")

  override def dataType: DataType = BinaryType

  // Gate semantics, byte for byte: component i maps to
  //   m  = microQ(v_i)                      (explicit IEEE round-half-away)
  //   q  = hi==lo ? 0 : halfAwayDiv((clamp(m)−lo)·255, hi−lo)
  // A NULL element encodes to 0 — in the long-format gate that (vec_id,
  // pos) row is dropped and contributes nothing to the ADC sum, and a
  // 0 code contributes nothing either, so the dot products agree.
  // Components beyond the stats' dimensionality are dropped (the gate's
  // join-on-pos keeps only positions both sides know). The clamp only
  // fires when stats were trained on a sample that didn't cover the
  // full range — the standard production trade; with corpus-global
  // stats (the gate) it is provably inert.
  def compute(arr: ArrayData): Array[Byte] = {
    val out = new Array[Byte](math.min(arr.numElements(), lo.length))
    var i = 0
    while (i < out.length) {
      val l = lo(i); val h = hi(i)
      if (!arr.isNullAt(i) && h != l) {
        val q = UnaryKernel.microQ(arr.getFloat(i))
        val m = if (q < l) l else if (q > h) h else q
        out(i) = ((2L * (m - l) * 255L + (h - l)) / (2L * (h - l))).toByte
      }
      i += 1
    }
    out
  }
}

/** Integer asymmetric-distance kernel: Σ codes[i]·query[i] over the
  * common prefix (unsigned bytes) — the inner loop of an SQ ANN scan.
  * Pure integer math: bit-identical to the gate's join-based SUM(q·qq)
  * in any engine, any partition layout. */
case class SqAdc(child: Expression, query: Array[Byte])
    extends UnaryKernel[Array[Byte], Long](BinaryType, "sq_adc") {

  override def dataType: DataType = LongType

  def compute(codes: Array[Byte]): Long = {
    val n = math.min(codes.length, query.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += (codes(i) & 0xff).toLong * (query(i) & 0xff).toLong
      i += 1
    }
    acc
  }
}

object SqExprs {
  /** Pack `embedding` into one byte per dimension under per-dim micro
    * stats (see [[graft.queries.Sim.sqStats]]). */
  def sqEncode(embedding: Column, lo: Array[Long], hi: Array[Long]): Column =
    UnaryKernel.column(embedding)(SqEncode(_, lo, hi))

  /** Integer ADC dot of a packed codes column against a packed query. */
  def sqAdc(codes: Column, query: Array[Byte]): Column =
    UnaryKernel.column(codes)(SqAdc(_, query))
}
