package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for the dedup hot path: the full K-family
  * MinHash signature of a shingle array in ONE pass.
  *
  * The pure-builtin formulation (md5 → hex substring → conv → one
  * array_min(transform(...)) per family) is correct but walks the array
  * K+2 times through interpreted higher-order-function lambdas and
  * round-trips every digest through a 32-char hex string. This
  * expression computes per shingle: one MD5 over the UTF-8 bytes, reads
  * the two leading 32-bit words straight from the digest, and updates
  * all K Carter-Wegman family minima (h1 + i*h2 mod p) in a tight JVM
  * loop — BIT-IDENTICAL results (the hex parse reads the same
  * big-endian digest bytes), so the DuckDB oracle twin
  * (queries/Docs.scala dHh/dMinhash) is unaffected.
  *
  * Null semantics match the builtin formulation exactly: null array →
  * null; null ELEMENTS contribute nothing (md5(null) nulls every family
  * value and array_min skips nulls); an array with no non-null element
  * → all-null signature. Same definition as [[MinHashAgg]], so the
  * per-row, grouped-aggregation, and streaming paths stay
  * signature-compatible.
  */
case class MinHashSig(child: Expression)
    extends UnaryKernel[ArrayData, ArrayData](ArrayType(StringType), "minhash_sig") {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable

  /** One pass over the shingle array → boxed-long signature array
    * (null slots when no non-null shingle exists). */
  def compute(arr: ArrayData): ArrayData = {
    val mins = new Array[Long](MinHashSig.K)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var found = false
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        found = true
        // the two words the hex formulation parses: digest bytes 0-3 and 4-7
        val d = UnaryKernel.md5(arr.getUTF8String(i).getBytes)
        val h1 = UnaryKernel.word32(d, 0)
        val h2 = UnaryKernel.word32(d, 4)
        var k = 0
        while (k < MinHashSig.K) {
          val v = (h1 + k * h2) % MinHashSig.P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(if (found) mins.map(v => v: Any) else new Array[Any](MinHashSig.K))
  }
}

object MinHashSig {

  val K = 8
  val P = 1000000007L
}

object MinHashExprs {
  /** Column wrapper over [[MinHashSig]] (array<string> shingles →
    * array<long> K-family signature). */
  def minHashSig(shingles: Column): Column = UnaryKernel.column(shingles)(MinHashSig(_))
}
