package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** Codegen'd k-means assignment: argmin over a tiny broadcast model,
  * fused into ONE expression so assignment — the hot scan at 100 TB —
  * stays inside whole-stage codegen instead of evaluating K interpreted
  * `aggregate` HOF lambdas per row (HOFs are CodegenFallback; see
  * BENCH_NOTES). Reference behavior: temporai-mivdp clusters embeddings
  * with a driver-resident model and a full-corpus assignment scan.
  *
  * Semantics are bit-identical to the builtin fold it replaces
  * (spec'd in ClusteringSpec):
  *   - centroids are visited in model order (labels sorted ascending),
  *   - score(k) = cc(k) − 2·(e·c(k)) — the same ordering as squared
  *     euclidean distance, since e·e is constant per vector — with the
  *     dot accumulated left-to-right in double (exactly [[VecDot]]),
  *   - strict `<` comparison, so ties keep the earlier (smaller) label,
  *   - a dimension mismatch or null element skips that centroid (the
  *     fold's null-propagating comparison keeps the accumulator), and a
  *     vector NO centroid can score assigns NULL: unscoreable vectors
  *     are excluded from assignment, the semantics every call site
  *     (e08/e09 twins included) pins — a null element is in-scope data
  *     the centroid aggregations already skip, so silently adopting
  *     some cluster (what a row_number over all-NULL scores would do)
  *     or surfacing a sentinel label would both smuggle garbage into
  *     downstream aggregates.
  *
  * The model rides along as constructor constants (labels, centroid
  * matrix, precomputed c·c), shipped with the kernel itself —
  * at any corpus scale the model is K×dim floats, far below broadcast
  * thresholds.
  */
case class KMeansArgMin(
    child: Expression,
    labels: Array[Int],
    cents: Array[Array[Float]],
    ccs: Array[Double])
    extends UnaryKernel[ArrayData, Integer](ArrayType(FloatType), "kmeans_argmin") {

  require(labels.length == cents.length && labels.length == ccs.length,
    "model arrays must be parallel")

  override def dataType: DataType = IntegerType

  def compute(arr: ArrayData): Integer = {
    val k = KMeansArgMin.nearest(arr, cents, ccs)
    if (k < 0) null else labels(k)
  }
}

object KMeansArgMin {

  /** Model arrays of a driver-resident model: entries sorted by label (so
    * the first-wins tie rule is "smaller label"), and c·c with the same
    * left-to-right fold the assignment (and the DuckDB twin's
    * list_inner_product(cvec, cvec)) uses. */
  def prep(model: Seq[(Int, Array[Float])]): (Array[Int], Array[Array[Float]], Array[Double]) = {
    val sorted = model.sortBy(_._1)
    val cents = sorted.map(_._2).toArray
    (sorted.map(_._1).toArray, cents,
      cents.map(_.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)))
  }

  /** cc − 2·(e·c), the dot accumulated left to right in double. */
  def score(arr: ArrayData, c: Array[Float], cc: Double): Double = {
    var acc = 0.0
    var j = 0
    while (j < c.length) { acc += arr.getFloat(j).toDouble * c(j).toDouble; j += 1 }
    cc - 2.0 * acc
  }

  /** Index of the strictly lowest-scoring centroid of matching dimension,
    * or −1 when the vector has a null element or no centroid scores. */
  def nearest(arr: ArrayData, cents: Array[Array[Float]], ccs: Array[Double]): Int = {
    val n = arr.numElements()
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return -1; i += 1 }
    var bestS = Double.PositiveInfinity
    var best = -1
    var k = 0
    while (k < cents.length) {
      if (cents(k).length == n) {
        val s = score(arr, cents(k), ccs(k))
        if (s < bestS) { bestS = s; best = k }
      }
      k += 1
    }
    best
  }
}

/** [[KMeansArgMin]]'s fused sibling: ONE model loop emits BOTH the
  * winning label and its score as struct(cluster int, score double) —
  * for consumers that need the distance of the assignment (e09's
  * quota sample), where running argmin and then re-deriving the score
  * via a per-label conditional would pay a second dot product per row.
  * The score is cc(k*) − 2·(e·c(k*)) through the same [[KMeansArgMin.score]]
  * the argmin compared with, so it is the exact double it compared —
  * bit-identical to the oracle's `s` by construction. Null/unscoreable semantics match [[KMeansArgMin]]:
  * no scoreable centroid → null struct.
  */
case class KMeansAssign(
    child: Expression,
    labels: Array[Int],
    cents: Array[Array[Float]],
    ccs: Array[Double])
    extends UnaryKernel[ArrayData, InternalRow](ArrayType(FloatType), "kmeans_assign") {

  require(labels.length == cents.length && labels.length == ccs.length,
    "model arrays must be parallel")

  override def dataType: DataType = KMeansAssign.schema

  def compute(arr: ArrayData): InternalRow = {
    val k = KMeansArgMin.nearest(arr, cents, ccs)
    if (k < 0) null
    else new GenericInternalRow(Array[Any](labels(k), KMeansArgMin.score(arr, cents(k), ccs(k))))
  }
}

object KMeansAssign {

  val schema: StructType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
}

object KMeansExprs {
  /** Column wrapper over [[KMeansArgMin]]: assign `embedding` to the
    * nearest centroid of a driver-resident model. `model` pairs each
    * label with its centroid. */
  def assignCluster(embedding: Column, model: Seq[(Int, Array[Float])]): Column = {
    val (labels, cents, ccs) = KMeansArgMin.prep(model)
    UnaryKernel.column(embedding)(KMeansArgMin(_, labels, cents, ccs))
  }

  /** Column wrapper over [[KMeansAssign]]: struct(cluster, score) of the
    * nearest centroid in one fused pass. */
  def assignWithScore(embedding: Column, model: Seq[(Int, Array[Float])]): Column = {
    val (labels, cents, ccs) = KMeansArgMin.prep(model)
    UnaryKernel.column(embedding)(KMeansAssign(_, labels, cents, ccs))
  }
}
