package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit,
  LocalRelation, LogicalPlan, Offset, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Adaptive-execution rule: a global sort whose input is measured small
  * sorts in one partition.
  *
  * A global `orderBy` plans as a range-partition exchange, and building
  * its bounds runs a sampling job that evaluates the sort's whole input
  * a second time. Once every stage under the sort has run, its input
  * size is known: when it is at most Spark's advisory partition size
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), the sort reads
  * a one-partition shuffle instead. `SinglePartition` satisfies the
  * sort's ordered distribution, so the planner places no range exchange
  * and starts no sampling job; rows and their order stay the same.
  *
  * Left alone: a sort over anything but materialized stages (and local
  * rows) — its size is an estimate; a sort already over one partition;
  * and a sort under a limit, which plans as `TakeOrderedAndProject`.
  */
object SmallSort extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan, limited = false)

  /** `p` with its small sorts rewritten; `limited` when `p` feeds a limit
    * directly or through a projection.
    */
  private def rewrite(p: LogicalPlan, limited: Boolean): LogicalPlan = p match {
    case s @ Sort(_, true, child, _) if !limited && small(child) =>
      s.copy(child = Repartition(1, shuffle = true, child))
    case _: GlobalLimit | _: LocalLimit | _: Offset =>
      p.mapChildren(rewrite(_, limited = true))
    case _: Project => p.mapChildren(rewrite(_, limited))
    case _ => p.mapChildren(rewrite(_, limited = false))
  }

  private def small(child: LogicalPlan): Boolean = {
    val leaves = child.collectLeaves()
    leaves.forall {
      case q: LogicalQueryStage => q.isMaterialized
      case _: LocalRelation => true
      case _ => false
    } && leaves.exists(_.isInstanceOf[LogicalQueryStage]) &&
      !onePartition(child) &&
      child.stats.sizeInBytes <=
        conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

  private def onePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, _, _) => true
    case q: LogicalQueryStage => onePartition(q.logicalPlan) ||
      q.physicalPlan.outputPartitioning == SinglePartition
    case _ => false
  }
}
