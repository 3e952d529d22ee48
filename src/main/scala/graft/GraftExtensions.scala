package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{MinHashSig, PlaneBucketCode, SimHash16, TopAdjacentPairCount, UnaryKernel, VecDot}

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions for SQL-text users —
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`) makes
  * `SELECT vec_dot(a, b)`, `minhash_sig(shingles)`,
  * `simhash16(tokens)`, `plane_bucket_code(embedding)` resolvable in
  * `spark.sql`. DataFrame callers don't need this: the wrappers in
  * `functions/` embed the expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  /** A one-argument builder registered under the kernel's own `prettyName`. */
  private def unary(kernel: Expression => UnaryKernel[_, _]):
      (String, ExpressionInfo, Seq[Expression] => Expression) = {
    val probe = kernel(Literal(null))
    (probe.prettyName, new ExpressionInfo(probe.getClass.getName, probe.prettyName),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"${probe.prettyName} takes exactly 1 argument")
        kernel(children.head): Expression
      })
  }

  private[graft] val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      children => {
        require(children.length == 2, "vec_dot takes exactly 2 arguments")
        VecDot(children.head, children(1))
      }),
    unary(MinHashSig(_)),
    unary(SimHash16(_)),
    unary(PlaneBucketCode(_)),
    unary(TopAdjacentPairCount(_)))

  /** Same registration for a session the library didn't construct. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (name, info, builder) =>
      org.apache.spark.sql.GraftShim.registerFunction(spark, name, info, builder)
    }
}
