package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document unigram surprisal against a FROZEN snapshot model, in
  * ONE compiled byte pass: `struct(n_tokens, surprisal_bits)` where
  * surprisal_bits = Σ_tokens (bits(n_total) − bits(count(token))) with
  * bits(x) = ⌊log2 x⌋ + 1 — the d25 integer-exact formulation
  * (queries/Docs.scala `surprisalDf`), with the corpus-derived model
  * (terms, counts, n_total) shipped as one [[KernelModel]] literal
  * instead of computed by the plan: plan canonicalization, tree copies
  * and plan text go through its content digest and never walk the
  * vocabulary (at production vocab sizes a `Seq` spelling made every
  * plan-tree operation O(vocab)). The model still ships to executors
  * once per stage, by task serialization. This is the SERVING path of
  * the d25/d44 family: LM "training" (the corpus frequency table) is a
  * batch job; scoring an unbounded ingest against the snapshot is a
  * stateless per-row expression — no join, no shuffle, no state.
  *
  * The shipped model stores only terms with snapshot count ≥ 2: a
  * lookup miss scores bits(1) = 1, which is EXACTLY what a count-1
  * term scores, so the scores of all snapshot-known tokens are
  * bit-identical to the batch d25 path while the model bytes roughly
  * halve (hapax legomena are typically ~half a corpus's vocabulary).
  * Out-of-vocabulary stream tokens (count 0 under the snapshot, which
  * the batch formulation never sees) score as count-1 — maximal
  * surprisal under the model, the principled OOV convention. The same
  * convention makes top-K pruning (ccnetModelSnapshot's maxTerms cap)
  * a BOUNDED approximation: a pruned term with true count c scores
  * 1 instead of bits(c), inflating its per-occurrence surprisal by
  * exactly bits(c) − 1 ≤ bits(c_K) − 1 where c_K is the smallest kept
  * count (pruning keeps the largest counts) — spec-pinned in
  * StreamingSpec.
  *
  * Tokenization is bit-identical to `words`/`tokenCount`
  * (ColFns.scala): tokens are maximal non-ws runs
  * ([[UnaryKernel.isWs]]), compared as zero-copy UTF8String views (no
  * String materialization). Null text → null struct. Pinned batch≡stream by StreamingSpec's d44 twin test.
  */
case class SnapshotSurprisal(child: Expression,
    model: KernelModel[(Array[String], Array[Long], Long)])
    extends UnaryKernel[UTF8String, InternalRow](StringType, "snapshot_surprisal") {

  override def dataType: DataType = SnapshotSurprisal.schema

  /** Term → bits(count); built once per (serialized) expression
    * instance, shared across rows on the executor. Values are the
    * PRE-COMPUTED bit lengths — the per-token work is one hash probe
    * and one subtraction. */
  @transient private lazy val lookup: java.util.HashMap[UTF8String, Integer] = {
    val (terms, counts, _) = model.value
    val m = new java.util.HashMap[UTF8String, Integer](terms.length * 2)
    var i = 0
    while (i < terms.length) {
      m.put(UTF8String.fromString(terms(i)),
        64 - java.lang.Long.numberOfLeadingZeros(counts(i)))
      i += 1
    }
    m
  }

  private lazy val nTotalBits: Int =
    64 - java.lang.Long.numberOfLeadingZeros(model.value._3)

  def compute(text: UTF8String): InternalRow = {
    var nTok = 0L
    var bitsSum = 0L
    var i = UnaryKernel.tokenStart(text, 0)
    while (i < text.numBytes) {
      val end = UnaryKernel.tokenEnd(text, i)
      nTok += 1
      val cb = lookup.get(
        UTF8String.fromAddress(text.getBaseObject, text.getBaseOffset + i, end - i))
      bitsSum += nTotalBits - (if (cb != null) cb.intValue() else 1)
      i = UnaryKernel.tokenStart(text, end)
    }
    new GenericInternalRow(Array[Any](nTok, bitsSum))
  }
}

object SnapshotSurprisal {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("surprisal_bits", LongType, nullable = false)))
}

object SurprisalExprs {
  /** text → struct(n_tokens long, surprisal_bits long) under a frozen
    * snapshot model (see [[SnapshotSurprisal]]). */
  def snapshotSurprisal(text: Column, terms: Seq[String], counts: Seq[Long],
      nTotal: Long): Column = {
    require(terms.length == counts.length,
      s"terms (${terms.length}) and counts (${counts.length}) must align")
    val model = new KernelModel((terms.toArray, counts.toArray, nTotal))
    UnaryKernel.column(text)(SnapshotSurprisal(_, model))
  }
}
