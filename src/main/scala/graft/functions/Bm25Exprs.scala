package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** d33's per-document retrieval statistics in ONE compiled byte pass:
  * `struct(ndl, tfs)` where `ndl` is the whitespace token count of the
  * document and `tfs(i)` counts occurrences of query term `terms(i)`.
  *
  * Replaces the two-pass scan the first d33 formulation paid per row —
  * `tokenCount(text)` (two regexp_replace walks + length arithmetic)
  * plus `filter(words(text), isin(terms))` (a third regex walk, a
  * split allocation, then an INTERPRETED higher-order-function lambda
  * per token) — with a single zero-allocation byte scan that never
  * materializes the token array. Because the expression emits per-TERM
  * counts (not matched occurrences), the downstream plan also drops the
  * (doc_id, term) occurrence exchange: `posexplode(tfs)` already IS the
  * per-(doc, term) tf frame.
  *
  * Tokenization is bit-identical to `words`/`tokenCount`
  * (ColFns.scala): tokens are maximal runs of non-`\s` bytes
  * ([[UnaryKernel.isWs]]), `ndl` is the run count (0 for
  * blank text, matching tokenCount's empty-string special case), and
  * term matching compares exact UTF-8 bytes via zero-copy UTF8String
  * views (no String materialization, no per-token allocation).
  * Null text → null struct, matching the builtin chain's propagation.
  * Pinned to the builtin formulation on adversarial inputs by
  * Bm25ExprsSpec.
  */
case class Bm25DocStats(child: Expression, terms: Seq[String])
    extends UnaryKernel[UTF8String, InternalRow](StringType, "bm25_doc_stats") {

  override def dataType: DataType = Bm25DocStats.schema

  /** Term → tfs index; built once per (serialized) expression instance,
    * shared across rows on the executor. */
  @transient private lazy val lookup: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.size * 2)
    terms.zipWithIndex.foreach { case (t, i) => m.put(UTF8String.fromString(t), i) }
    m
  }

  /** One byte pass: count whitespace-token runs and per-term matches.
    * Token views are zero-copy (UTF8String.fromAddress over the input's
    * buffer); the map probe hashes the view's bytes directly. */
  def compute(text: UTF8String): InternalRow = {
    val tfs = new Array[Long](terms.size)
    var ndl = 0L
    var i = UnaryKernel.tokenStart(text, 0)
    while (i < text.numBytes) {
      val end = UnaryKernel.tokenEnd(text, i)
      ndl += 1
      val idx = lookup.get(
        UTF8String.fromAddress(text.getBaseObject, text.getBaseOffset + i, end - i))
      if (idx != null) tfs(idx.intValue()) += 1L
      i = UnaryKernel.tokenStart(text, end)
    }
    new GenericInternalRow(Array[Any](ndl, new GenericArrayData(tfs)))
  }
}

object Bm25DocStats {

  val schema: StructType = StructType(Seq(
    StructField("ndl", LongType, nullable = false),
    StructField("tfs", ArrayType(LongType, containsNull = false), nullable = false)))
}

object Bm25Exprs {
  /** text → struct(ndl long, tfs array<long> aligned to `terms`), one
    * compiled byte pass (see [[Bm25DocStats]]). */
  def bm25DocStats(text: Column, terms: Seq[String]): Column =
    UnaryKernel.column(text)(Bm25DocStats(_, terms))
}
