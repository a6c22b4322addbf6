package graftbench

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Counts taken from an executed physical plan. `operators` excludes the
  * wrappers that are not work of their own (adaptive root, query stages,
  * codegen stage and input adapters); `inCodegen` is the part of
  * `operators` that runs inside a whole-stage-codegen stage.
  */
final case class PlanStats(operators: Int, inCodegen: Int, exchanges: Int,
                           singlePartitionExchanges: Int,
                           fallbackExprs: Int) {
  def +(o: PlanStats): PlanStats = PlanStats(operators + o.operators,
    inCodegen + o.inCodegen, exchanges + o.exchanges,
    singlePartitionExchanges + o.singlePartitionExchanges,
    fallbackExprs + o.fallbackExprs)
}

object PlanStats {
  val zero: PlanStats = PlanStats(0, 0, 0, 0, 0)

  /** Walks the final plan, descending into adaptive plans (their current,
    * after execution final, plan), query stages and subqueries.
    */
  def of(plan: SparkPlan): PlanStats = walk(plan, inCodegen = false)

  private def walk(p: SparkPlan, inCodegen: Boolean): PlanStats = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
    case s: QueryStageExec => walk(s.plan, inCodegen)
    case r: ReusedExchangeExec => walk(r.child, inCodegen)
    case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
    case i: InputAdapter => walk(i.child, inCodegen = false)
    case _ =>
      val exchange = p.isInstanceOf[ShuffleExchangeLike] ||
        p.isInstanceOf[BroadcastExchangeLike]
      val single = p match {
        case e: ShuffleExchangeLike => e.outputPartitioning == SinglePartition
        case _ => false
      }
      val fallback = p.expressions
        .map(_.collect { case e: CodegenFallback => e }.size).sum
      val own = PlanStats(1, if (inCodegen) 1 else 0, if (exchange) 1 else 0,
        if (single) 1 else 0, fallback)
      (p.children ++ p.subqueries).foldLeft(own)((acc, c) =>
        acc + walk(c, inCodegen && p.children.contains(c)))
  }
}
