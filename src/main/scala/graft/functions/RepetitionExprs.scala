package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for the d14 repetition filter's
  * most-frequent-adjacent-pair count (queries/Docs.scala).
  *
  * The pure-builtin formulation builds the bigram string array with a
  * `transform` HOF, then for each DISTINCT bigram rescans the whole
  * array with a `filter` HOF — O(|bg|²) interpreted expression-tree
  * evaluations per row (HOFs are CodegenFallback), which made d14 the
  * heaviest query in the battery. This expression is one pass over the
  * token array with a small open hash map of adjacent pairs — O(|ws|)
  * amortized, no bigram array ever materialized.
  *
  * Token arrays come from `split(normWs(text), " ")`, so tokens cannot
  * contain a space and the (tokᵢ, tokᵢ₊₁) pair is in bijection with the
  * space-joined bigram string the oracle counts — counts are identical.
  *
  * Semantics: null array → null; fewer than 2 tokens → 0 (no bigrams);
  * null ELEMENTS (impossible from split, possible on a hand-built
  * array) are skipped inside the pair key exactly like the builtin's
  * `concat_ws(" ", tokᵢ, tokᵢ₊₁)`, so the expression is bit-identical
  * to the HOF formulation on arbitrary arrays (spec-checked).
  */
case class TopAdjacentPairCount(child: Expression)
    extends UnaryKernel[ArrayData, Long](ArrayType(StringType), "top_adjacent_pair_count") {

  override def dataType: DataType = LongType

  def compute(arr: ArrayData): Long = TopAdjacentPairCount.compute(arr)
}

object TopAdjacentPairCount {

  /** The kernel body, callable without an expression. One pass: count
    * adjacent bigram keys (null members skipped inside the key, as
    * concat_ws does), return the max count — 0 if fewer than 2 tokens. */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n < 2) return 0L
    val counts = new java.util.HashMap[String, Int](Math.min(n * 2, 1 << 10))
    var max = 0
    var i = 0
    while (i < n - 1) {
      val a = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      val b = if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1).toString
      // concat_ws(" ", a, b): join the NON-NULL parts with a space
      val key =
        if (a == null && b == null) ""
        else if (a == null) b
        else if (b == null) a
        else a + " " + b
      val c = counts.merge(key, 1, Integer.sum)
      if (c > max) max = c
      i += 1
    }
    max.toLong
  }
}

object RepetitionExprs {
  /** Column wrapper over [[TopAdjacentPairCount]] (array<string> → long). */
  def topAdjacentPairCount(tokens: Column): Column =
    UnaryKernel.column(tokens)(TopAdjacentPairCount(_))
}
