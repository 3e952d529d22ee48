package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, RegExpReplace, StringSplit}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Plan-introspection helpers shared by `Dev exec-plan` and the
  * PlanGuardSpec regression gates. AQE hides the final plan behind
  * `AdaptiveSparkPlanExec` / `QueryStageExec` wrappers whose `children`
  * are empty, so a plain `TreeNode.collect` never descends into
  * materialized stages — this walker does.
  */
object PlanInspect {

  /** Every node of the FINAL adaptive plan, descending into query
    * stages. `ReusedExchangeExec` is kept as a leaf: its child is the
    * reused subtree, and walking it would double-count the original. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
    case s: QueryStageExec => s +: walk(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: p.children.flatMap(walk)
  }

  /** Distinct shuffle exchanges of the final executed plan (reused
    * references excluded — each physical exchange appears once). */
  def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    walk(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }

  def reused(df: DataFrame): Seq[ReusedExchangeExec] =
    walk(df.queryExecution.executedPlan).collect { case r: ReusedExchangeExec => r }

  /** Lambda bodies that re-evaluate tokenization per array element: a
    * `split` / `regexp_replace` INSIDE a higher-order-function lambda
    * means a free-variable expression was inlined under the lambda
    * (CollapseProject only protects multiply-referenced aliases), so
    * the interpreted lambda re-runs it for every `element_at` —
    * O(elements × tokens) per row instead of O(tokens). Tokenization
    * must always reach a lambda as a BOUND attribute (two aliased
    * projections — the withShingles shape). This is the exact defect
    * that made d20 12× slower in round 9; checked on the optimized
    * logical plan, where the inlining happens, so no execution needed.
    * Binding the tokens in a projection does not protect a lambda under
    * a Filter: the Filter is pushed below the projection with the alias
    * substituted. */
  def freeTokenizationLambdas(df: DataFrame): Seq[String] =
    tokenizationLambdas(df.queryExecution.optimizedPlan.collect { case p => p })

  /** The same check over an executed plan, query stages included — for
    * frames only a listener sees, such as a pipeline stage's write. */
  def freeTokenizationLambdas(plan: SparkPlan): Seq[String] = tokenizationLambdas(walk(plan))

  private def tokenizationLambdas(nodes: Seq[QueryPlan[_]]): Seq[String] =
    nodes.flatMap(_.expressions.flatMap(_.collect {
      case lf: LambdaFunction if lf.function.exists {
          case _: StringSplit | _: RegExpReplace => true
          case _ => false
        } => lf.function.toString.take(160)
    }))
}
