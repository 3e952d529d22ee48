package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Opaque holder for a frozen unigram snapshot model (term → count,
  * n_total). Expressions carry ONE reference to this object instead of
  * raw `Seq` constructor args, so plan canonicalization / semantic
  * equality / tree copies / (truncated) plan-string rendering never
  * walk the vocabulary: equals/hashCode/toString go through a
  * PRECOMPUTED md5 digest of the content (computed once, at driver
  * construction). At production vocab sizes (millions of terms) the
  * Seq spelling made every plan-tree operation O(vocab) — observed as
  * a 3.5 MiB task-binary warning even on the tiny StreamingSpec
  * fixture. The model still ships to executors via task serialization
  * exactly once per stage (the literal-model posture, same as the d41
  * merge table); only the driver-side plan bookkeeping stops paying.
  */
final class SurprisalModel(val terms: Array[String], val counts: Array[Long],
    val nTotal: Long) extends Serializable {
  require(terms.length == counts.length,
    s"terms (${terms.length}) and counts (${counts.length}) must align")

  /** Content digest: md5 over (nTotal, term, count)*; drives
    * equals/hashCode so two independently-built but identical
    * snapshots canonicalize equal. */
  val digest: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    def putLong(v: Long): Unit = {
      buf.clear(); buf.putLong(v); md.update(buf.array())
    }
    putLong(nTotal)
    var i = 0
    while (i < terms.length) {
      md.update(terms(i).getBytes("UTF-8")); md.update(0.toByte)
      putLong(counts(i))
      i += 1
    }
    md.digest().map("%02x".format(_)).mkString
  }

  override def equals(o: Any): Boolean = o match {
    case m: SurprisalModel => m.digest == digest
    case _ => false
  }
  override def hashCode: Int = digest.hashCode
  override def toString: String =
    s"surprisal_model(${terms.length} terms, n_total=$nTotal, md5=$digest)"
}

/** Per-document unigram surprisal against a FROZEN snapshot model, in
  * ONE compiled byte pass: `struct(n_tokens, surprisal_bits)` where
  * surprisal_bits = Σ_tokens (bits(n_total) − bits(count(token))) with
  * bits(x) = ⌊log2 x⌋ + 1 — the d25 integer-exact formulation
  * (queries/Docs.scala `surprisalDf`), with the corpus-derived model
  * (term → count) shipped as a [[SurprisalModel]] literal instead of
  * computed by the plan. This is the SERVING path of the d25/d44
  * family: LM "training" (the corpus frequency table) is a batch job;
  * scoring an unbounded ingest against the snapshot is a stateless
  * per-row expression — no join, no shuffle, no state.
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
case class SnapshotSurprisal(child: Expression, model: SurprisalModel)
    extends UnaryKernel[UTF8String, InternalRow](StringType, "snapshot_surprisal") {

  override def dataType: DataType = SnapshotSurprisal.schema

  /** Term → bits(count); built once per (serialized) expression
    * instance, shared across rows on the executor. Values are the
    * PRE-COMPUTED bit lengths — the per-token work is one hash probe
    * and one subtraction. */
  @transient private lazy val lookup: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](model.terms.length * 2)
    var i = 0
    while (i < model.terms.length) {
      m.put(UTF8String.fromString(model.terms(i)),
        64 - java.lang.Long.numberOfLeadingZeros(model.counts(i)))
      i += 1
    }
    m
  }

  private lazy val nTotalBits: Int =
    64 - java.lang.Long.numberOfLeadingZeros(model.nTotal)

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
      nTotal: Long): Column =
    snapshotSurprisal(text,
      new SurprisalModel(terms.toArray, counts.toArray, nTotal))

  /** Overload taking a prebuilt [[SurprisalModel]] (reuse one holder —
    * and its one digest computation — across expressions). */
  def snapshotSurprisal(text: Column, model: SurprisalModel): Column =
    UnaryKernel.column(text)(SnapshotSurprisal(_, model))
}
