package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the d37/d38 quality gates
  * (queries/Docs.scala).
  *
  * The pure-builtin formulations walk the token array once per
  * statistic — `array_sort` + a struct-state `aggregate` fold for the
  * top-token count, a second `aggregate` for character totals,
  * `array_distinct`, `array_intersect` for stopword hits, and (d38) an
  * `aggregate` fold issuing one md5 per element — all interpreted
  * (HOFs are CodegenFallback), which priced the two gates at 2.6×/1.9×
  * their single-threaded DuckDB twins at sf1. Each expression here is
  * ONE compiled pass over the array with a small open hash map (the
  * [[TopAdjacentPairCount]] recipe), keeping the gates the zero-shuffle
  * scan-parallel maps their plan guards pin.
  *
  * Semantics are bit-identical to the builtin chains (spec-checked, and
  * the d37/d38 oracles pin them cross-engine): null array → null; the
  * gate path filters ""/null elements before the call, but hand-built
  * arrays are handled deterministically — see each expression's note.
  */
case class GopherStats(child: Expression)
    extends UnaryKernel[ArrayData, InternalRow](ArrayType(StringType), "gopher_stats") {

  override def dataType: DataType = GopherStats.schema

  /** One pass: per-token counts in an open hash map (UTF8String keys —
    * no String materialization), character totals via numChars (the
    * builtin `length` semantics), distinct/top/stopword stats off the
    * same map. Null ELEMENTS are skipped (the gate path filters them
    * out before the call; on a hand-built array this matches
    * `filter(ws, x =!= "")`, which also drops nulls). */
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Int](Math.min(n * 2, 1 << 10))
    var nWords = 0L
    var sumLen = 0L
    var topCnt = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        nWords += 1
        sumLen += t.numChars()
        val c = counts.merge(t, 1, Integer.sum)
        if (c > topCnt) topCnt = c
      }
      i += 1
    }
    var stopHits = 0L
    val it = GopherStats.stopSet.iterator()
    while (it.hasNext) if (counts.containsKey(it.next())) stopHits += 1
    new GenericInternalRow(Array[Any](
      nWords, sumLen, stopHits, counts.size().toLong, topCnt.toLong))
  }
}

object GopherStats {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_cnt", LongType, nullable = false)))

  /** The d37 stopword list (Gopher's "must contain ≥ 2 of a small
    * English stopword set" rule) — single source for the Spark gate,
    * the oracle twin, and this expression. */
  val stops: Seq[String] = Seq("the", "a", "of", "and", "be", "to", "in", "it")

  private val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stops.foreach(t => s.add(UTF8String.fromString(t)))
    s
  }
}

/** d38's hashed-linear score: Σ_tokens ((first 32 md5 bits as unsigned)
  * mod 2001 − 1000) — one MD5 over each token's UTF8 BYTES (identical
  * to the builtin `md5(x.cast("binary"))` + hex-prefix parse), summed
  * in one compiled pass. A null ELEMENT nulls the whole sum, exactly
  * like the builtin fold (`acc + weight(null)` is null); the gate path
  * filters nulls out before the call. */
case class HashedTokenScore(child: Expression)
    extends UnaryKernel[ArrayData, java.lang.Long](ArrayType(StringType), "hashed_token_score") {

  override def dataType: DataType = LongType

  /** Null on a null element, mirroring the builtin fold. The weight
    * reads the digest's first 4 bytes as an unsigned 32-bit value —
    * exactly the hex-prefix parse `conv(substring(md5(x), 1, 8), 16, 10)`. */
  def compute(arr: ArrayData): java.lang.Long = {
    var sum = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) return null
      sum += UnaryKernel.word32(UnaryKernel.md5(arr.getUTF8String(i).getBytes), 0) % 2001L - 1000L
      i += 1
    }
    sum
  }
}

object GateExprs {
  /** array<string> → struct(n_words, sum_len, stop_hits, n_distinct,
    * top_cnt), one compiled pass. */
  def gopherStats(ws: Column): Column = UnaryKernel.column(ws)(GopherStats(_))

  /** array<string> → hashed-linear score_sum, one compiled pass. */
  def hashedTokenScore(ws: Column): Column = UnaryKernel.column(ws)(HashedTokenScore(_))
}
