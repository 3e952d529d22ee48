package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression for the hyperplane-LSH bucket code
  * (queries/Sim.scala e04/e05): 8 signed-random-projection planes with
  * deterministic integer weights W(i,j) = ((i*37 + j*101) mod 19) - 9,
  * bucket bit j set iff the plane-j dot product is positive.
  *
  * The pure-builtin formulation runs 8 planeDots per row, each an
  * interpreted transform+aggregate pass over the embedding — 16 array
  * walks with per-element boxing, paid on BOTH sides of the bucket
  * join. This expression accumulates all 8 sums in ONE pass, each in
  * the same left-to-right order with the same float→double widening,
  * so the result is bit-identical.
  *
  * Null semantics match the builtin exactly: a null element nulls every
  * plane sum (the lambda product is null and the fold propagates), and
  * `when(s > 0, bit).otherwise(0)` then maps every plane to 0 — so a
  * null ELEMENT or a null ARRAY both yield bucket code 0, never null.
  */
/** @param planes number of hyperplanes (bucket bits). The default 8 is
  *        pinned by the e04/e05/e06 DuckDB oracles; the production KNN
  *        path raises it with corpus density (Sim.planesFor) — the
  *        weight formula W(i,j) depends only on (i, j), so a larger
  *        plane count REFINES the 8-plane buckets exactly:
  *        code_p == code_q & ((1<<p)-1) for p <= q (spec-checked).
  */
case class PlaneBucketCode(child: Expression, planes: Int = PlaneBucketCode.Planes)
    extends UnaryKernel[ArrayData, Long](ArrayType(FloatType), "plane_bucket_code", 0L) {

  require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")

  override def dataType: DataType = LongType

  /** One pass: s_j += x_i * (((i*37 + j*101) % 19) - 9), then bit j iff
    * s_j > 0. Returns 0 on any null element (see class doc). */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val sums = new Array[Double](planes)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return 0L
      val x = arr.getFloat(i).toDouble
      var j = 0
      while (j < planes) {
        sums(j) += x * (((i * 37 + j * 101) % 19) - 9).toDouble
        j += 1
      }
      i += 1
    }
    var code = 0L
    var j = 0
    while (j < planes) {
      // Spark SQL orders NaN greater than every value, so the builtin's
      // `when(s > 0, bit)` fires for a NaN sum; Java's > does not.
      if (sums(j) > 0 || java.lang.Double.isNaN(sums(j))) code |= (1L << j)
      j += 1
    }
    code
  }
}

object PlaneBucketCode {

  val Planes = 8
}

object PlaneBucketExpr {
  /** Column wrapper over [[PlaneBucketCode]] (array<float> embedding →
    * long bucket code). */
  def planeBucketCode(embedding: Column): Column =
    UnaryKernel.column(embedding)(PlaneBucketCode(_))

  /** Scale variant: explicit plane count (more planes → finer buckets →
    * less in-bucket quadratic work as corpus density grows). */
  def planeBucketCode(embedding: Column, planes: Int): Column =
    UnaryKernel.column(embedding)(PlaneBucketCode(_, planes))
}
