package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding hot path.
  *
  * The pure-builtin formulation (`aggregate(zip_with(a, b, _*_), 0, _+_)`)
  * is correct but evaluates through interpreted higher-order-function
  * lambdas — fine at thousands of rows, a bottleneck at billions. This
  * expression participates in whole-stage codegen (`doGenCode` emits a
  * tight primitive loop over the two ArrayData buffers, no per-element
  * boxing) while producing BIT-IDENTICAL results: same left-to-right
  * accumulation order, elements widened to double before multiply, so the
  * DuckDB oracle comparison is unaffected.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<float> inputs, got ${l.sql} and ${r.sql}")
    }

  // Length mismatch → NULL, matching the builtin formulation exactly
  // (zip_with null-pads the shorter array, the product is null, and the
  // fold propagates it): a malformed embedding row must surface as a
  // detectable null, never as a plausible prefix dot product.
  override def nullable: Boolean = true

  // Null ELEMENTS also propagate to a null result (ArrayData.getFloat
  // would silently read a null slot as 0): same as the builtin fold,
  // where a null element nulls the product and the sum.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** Aggregate Column over [[VecMicroSumAgg]]: per-position micro-unit
    * sums + non-null counts of a float-vector column. */
  def vecMicroSum(v: Column): Column =
    UnaryKernel.column(v)(VecMicroSumAgg(_).toAggregateExpression())

  /** Column wrapper over [[VecDot]] (float-array inputs). */
  def vecDot(a: Column, b: Column): Column =
    GraftShim.column(VecDot(GraftShim.expression(a), GraftShim.expression(b)))

  /** Codegen'd cosine over float-vector columns — bit-identical to
    * [[ColFns.cosine]] (same accumulation order and widening). */
  def cosineFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    vecDot(a, b) / (sqrt(vecDot(a, a)) * sqrt(vecDot(b, b)))
  }

  /** L2 norm of a float-vector column — EXACTLY the self-norm factor of
    * [[cosineFast]] (same vecDot, same sqrt), split out so self-join
    * shapes can compute it ONCE per row before the join and spend one
    * array dot per PAIR instead of three:
    * `vecDot(a,b) / (na * nb)` with `na = vecNorm(a)` precomputed is
    * bit-identical to `cosineFast(a, b)` — identical doubles through an
    * identical expression tree — while pairs grow quadratically with
    * bucket density and rows don't. Null/malformed vectors propagate
    * the same way (null dot → null norm → null cosine). */
  def vecNorm(v: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(vecDot(v, v))
  }
}

/** Element-wise micro-unit sum of a vector column — the aggregate that
  * lets a k-means centroid update run WITHOUT exploding the corpus:
  * per group, `sm(pos) = Σ microQ(v(pos))` and `n(pos)` counts the
  * non-null elements at each position (both exact longs, so the result
  * is order- and partition-independent). The explode-then-groupBy
  * formulation it replaces had a second, worse cost: any expensive
  * per-VECTOR expression selected next to the generator (e08's
  * kmeans_argmin grouping key) lands in the Project ABOVE Generate and
  * is re-evaluated once per ELEMENT — 64x per vector — while here it
  * is evaluated once as a plain grouping key. Null elements contribute
  * to neither sum nor count; rows of different lengths aggregate to
  * the longest seen (shorter rows simply don't reach the tail
  * positions — mirroring the exploded formulation, where those
  * (group, pos) pairs never produced a row; positions with n = 0 must
  * be filtered by the caller exactly as empty groups never appeared). */
case class VecMicroSumAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    VecMicroSumAgg.Buffer]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def prettyName: String = "vec_micro_sum"
  override def dataType: DataType = VecMicroSumAgg.schema
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_micro_sum requires array<float> input, got ${t.sql}")
  }

  override def createAggregationBuffer(): VecMicroSumAgg.Buffer =
    new VecMicroSumAgg.Buffer(new Array[Long](0), new Array[Long](0))

  override def update(buf: VecMicroSumAgg.Buffer,
      input: org.apache.spark.sql.catalyst.InternalRow): VecMicroSumAgg.Buffer = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val b = buf.grow(n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        b.sm(i) += UnaryKernel.microQ(arr.getFloat(i))
        b.cnt(i) += 1L
      }
      i += 1
    }
    b
  }

  override def merge(b1: VecMicroSumAgg.Buffer,
      b2: VecMicroSumAgg.Buffer): VecMicroSumAgg.Buffer = {
    val b = b1.grow(b2.sm.length)
    var i = 0
    while (i < b2.sm.length) { b.sm(i) += b2.sm(i); b.cnt(i) += b2.cnt(i); i += 1 }
    b
  }

  override def eval(buf: VecMicroSumAgg.Buffer): Any =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.sm),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.cnt)))

  override def serialize(buf: VecMicroSumAgg.Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.sm.length)
    bb.putInt(buf.sm.length)
    buf.sm.foreach(bb.putLong)
    buf.cnt.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecMicroSumAgg.Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val sm = Array.fill(n)(bb.getLong)
    val cnt = Array.fill(n)(bb.getLong)
    new VecMicroSumAgg.Buffer(sm, cnt)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMicroSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMicroSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecMicroSumAgg =
    copy(child = newChild)
}

object VecMicroSumAgg {
  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sm",
        ArrayType(org.apache.spark.sql.types.LongType, containsNull = false), nullable = false),
      org.apache.spark.sql.types.StructField("n",
        ArrayType(org.apache.spark.sql.types.LongType, containsNull = false), nullable = false)))

  final class Buffer(var sm: Array[Long], var cnt: Array[Long]) {
    def grow(n: Int): Buffer = {
      if (n > sm.length) {
        sm = java.util.Arrays.copyOf(sm, n)
        cnt = java.util.Arrays.copyOf(cnt, n)
      }
      this
    }
  }
}
