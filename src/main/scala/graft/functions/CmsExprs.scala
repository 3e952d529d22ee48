package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Point-query side of Spark's own `count_min_sketch` aggregate: the
  * builtin produces the serialized sketch but ships no expression to
  * READ it, so a sketch built in one pass (d24_heavy_hitters) could
  * otherwise only be queried on the driver. This expression embeds the
  * sketch bytes (a few hundred KB — the whole point of a CMS at 100 TB)
  * and answers estimateCount per row inside codegen.
  *
  * Hash-path consistency: CountMinSketchAgg adds STRING values via
  * `addBinary(UTF8String.getBytes)`; the estimate side must therefore
  * query with the same UTF-8 `byte[]` item (the String overload hashes
  * the same bytes, but byte[] keeps it byte-for-byte the same path).
  */
case class CmsEstimate(child: Expression, sketch: KernelModel[Array[Byte]])
    extends UnaryKernel[UTF8String, Long](StringType, "cms_estimate") {

  override def dataType: DataType = LongType

  // deserialized once per (serialized) expression instance: the bytes
  // ship with the plan, the sketch materializes on the executor
  @transient private lazy val cms =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(sketch.value)

  def compute(item: UTF8String): Long = cms.estimateCount(item.getBytes)
}

object CmsExprs {
  /** Column wrapper over [[CmsEstimate]]: string term → estimated count
    * from the serialized count-min sketch. */
  def cmsEstimate(term: Column, sketchBytes: Array[Byte]): Column =
    UnaryKernel.column(term)(CmsEstimate(_, new KernelModel(sketchBytes)))

  /** Aggregate Column over [[CmsWeightedAgg]]: build a count-min sketch
    * from pre-aggregated (term, count) rows — byte-identical to the
    * builtin over the raw occurrence stream. */
  def cmsSketchWeighted(term: Column, cnt: Column, eps: Double,
      confidence: Double, seed: Int): Column =
    GraftShim.column(CmsWeightedAgg(GraftShim.expression(term),
      GraftShim.expression(cnt), eps, confidence, seed).toAggregateExpression())
}

/** Weighted count-min-sketch aggregate: adds `cnt` occurrences of `term`
  * per input row — the sketch-from-rollup shape. Spark's builtin
  * `count_min_sketch` adds 1 per row, which forces the sketch pass to
  * run over RAW occurrences; at 100 TB the production pattern is to
  * roll occurrences up once (per shard / per vocabulary key) and build
  * the sketch from the pre-aggregated counts — the counters are sums,
  * so the resulting sketch is BYTE-IDENTICAL to unweighted insertion of
  * the same multiset (pinned by CmsWeightedSpec), and the corpus pays
  * one pass instead of two (d24). Null term or null/negative count
  * contributes nothing. */
case class CmsWeightedAgg(
    term: Expression,
    cnt: Expression,
    eps: Double,
    confidence: Double,
    seed: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    org.apache.spark.util.sketch.CountMinSketch]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  import org.apache.spark.util.sketch.CountMinSketch

  override def left: Expression = term
  override def right: Expression = cnt
  override def prettyName: String = "cms_sketch_weighted"
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = (term.dataType, cnt.dataType) match {
    case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (t, c) => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch_weighted requires (string, bigint) inputs, got (${t.sql}, ${c.sql})")
  }

  override def createAggregationBuffer(): CountMinSketch =
    CountMinSketch.create(eps, confidence, seed)

  override def update(buffer: CountMinSketch,
      input: org.apache.spark.sql.catalyst.InternalRow): CountMinSketch = {
    val t = term.eval(input)
    val c = cnt.eval(input)
    // the builtin's STRING path adds UTF8String bytes; matching it keeps
    // the hash path byte-for-byte identical (the CmsEstimate contract)
    if (t != null && c != null && c.asInstanceOf[Long] > 0L)
      buffer.addBinary(t.asInstanceOf[UTF8String].getBytes, c.asInstanceOf[Long])
    buffer
  }

  override def merge(b1: CountMinSketch, b2: CountMinSketch): CountMinSketch = {
    b1.mergeInPlace(b2)
    b1
  }

  override def eval(buffer: CountMinSketch): Any = serialize(buffer)

  override def serialize(buffer: CountMinSketch): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    buffer.writeTo(bos)
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsWeightedAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsWeightedAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsWeightedAgg =
    copy(term = newLeft, cnt = newRight)
}
