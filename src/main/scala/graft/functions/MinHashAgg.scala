package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable MinHash sketch as a typed `Aggregator` — the custom-UDAF
  * path SURVEY §2.9 reserves for the north-star operators.
  *
  * Input is one shingle per row; the buffer is the running k-way minimum
  * of the Carter-Wegman families (h1 + i·h2) mod p, where (h1, h2) are
  * the two 32-bit halves of ONE md5 per shingle — the same family
  * definition as the per-row query path (queries/Docs.scala
  * cwHashes/minhash), so grouped aggregation produces IDENTICAL
  * signatures. Because `merge` is an elementwise min, the sketch is
  * associative and commutative: partial aggregation (map-side combine),
  * shuffle-side merge, and streaming state updates all compose — which
  * is what makes MinHash viable over 100 TB (each partition reduces its
  * shingles locally; only k hashes per doc cross the wire).
  */
object MinHashAgg {

  val K = 8

  private val P = 1000000007L

  /** (h1, h2) = first/second 8 hex chars of md5(shingle) as ints —
    * byte-identical to Docs.cwHashes (md5 of the UTF-8 bytes, hex split). */
  private def baseHashes(s: String): (Long, Long) = {
    val h = UnaryKernel.md5(s.getBytes("UTF-8"))
    (UnaryKernel.word32(h, 0), UnaryKernel.word32(h, 4))
  }

  /** Aggregator over shingle strings → k-min signature. Empty-input
    * signature is all-null (matches array_min of an empty transform). */
  val minhash: Aggregator[String, Array[java.lang.Long], Array[java.lang.Long]] =
    new Aggregator[String, Array[java.lang.Long], Array[java.lang.Long]] {
      override def zero: Array[java.lang.Long] = Array.fill[java.lang.Long](K)(null)
      override def reduce(buf: Array[java.lang.Long],
          shingle: String): Array[java.lang.Long] = {
        // null shingles contribute nothing — matches the per-row path,
        // where md5(null) is null so every family value is null and
        // array_min skips it
        if (shingle == null) return buf
        val (h1, h2) = baseHashes(shingle)
        var i = 0
        while (i < K) {
          val v = (h1 + i * h2) % P
          if (buf(i) == null || v < buf(i)) buf(i) = v
          i += 1
        }
        buf
      }
      override def merge(a: Array[java.lang.Long],
          b: Array[java.lang.Long]): Array[java.lang.Long] = {
        var i = 0
        while (i < K) {
          if (a(i) == null || (b(i) != null && b(i) < a(i))) a(i) = b(i)
          i += 1
        }
        a
      }
      override def finish(buf: Array[java.lang.Long]): Array[java.lang.Long] = buf
      override def bufferEncoder: Encoder[Array[java.lang.Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[java.lang.Long]]()
      override def outputEncoder: Encoder[Array[java.lang.Long]] = bufferEncoder
    }

  /** Untyped-DataFrame view: `df.groupBy("doc_id").agg(minhashCol($"shingle"))`. */
  def minhashCol(shingle: Column): Column =
    org.apache.spark.sql.functions.udaf(minhash, Encoders.STRING)
      .apply(shingle).as("mh_sig")
}
