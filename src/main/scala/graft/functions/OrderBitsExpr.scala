package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Order-preserving double → long bit map (the radix-sort trick):
  * `f(a) < f(b) ⟺ a < b` for all non-NaN doubles (NaN maps above
  * +Infinity, matching Spark's sort order; −0.0 maps one below +0.0,
  * which is indistinguishable at any bucket granularity coarser than
  * 1 bit and irrelevant to value ranks since the two compare equal).
  *
  * Purpose: MONOTONE COARSE BUCKETING of unbounded double columns —
  * `shiftright(orderBits(v), k)` gives 2^(64−k) orderable buckets with
  * no assumptions about the value range, the primitive a histogram-
  * guided exact percentile needs (ColFns.histPercentilesByKey). Pure
  * bit arithmetic, codegen'd, null-propagating.
  */
case class DoubleOrderBits(child: Expression)
    extends UnaryKernel[Double, Long](DoubleType, "double_order_bits") {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  /** b ⊕ ((b >> 63) & 0x7fff…): identity on non-negative bit patterns
    * (positives / +0.0 / NaN), order-reversing flip of the low 63 bits
    * on negatives — signed-long order == IEEE-754 total order. */
  def compute(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }
}

object DoubleOrderBits {
  def orderBits(c: Column): Column = UnaryKernel.column(c)(DoubleOrderBits(_))
}
