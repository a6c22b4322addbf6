package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Limit, Project,
  Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[SmallSort]]: a global sort over small, measured stages reads one
  * partition — no range exchange, no sampling job, the same rows in the
  * same order.
  */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** q04's shape: per-group top 3 by a ranked window, sorted globally. */
  private def topK: DataFrame = {
    val orders = spark.range(0, 20000, 1, 4).select(
      ($"id" % 997).as("cust"), $"id".as("okey"),
      (($"id" * 7919) % 10007).as("price"))
    orders.withColumn("rk", row_number().over(
        Window.partitionBy($"cust").orderBy($"price".desc, $"okey")))
      .filter($"rk" <= 3)
      .select($"cust", $"okey", $"rk")
      .orderBy($"cust", $"rk")
  }

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val (k, v) = kv
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Collects `df`, returning its rows, its final adaptive plan and the
    * jobs the collect started.
    */
  private def run(df: DataFrame): (Seq[Row], SparkPlan, Int) = {
    var rows = Seq.empty[Row]
    val jobs = jobsOf { rows = df.collect().toSeq }
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (rows, plan, jobs)
  }

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case e: ShuffleExchangeLike => e }

  private def ranged(plan: SparkPlan): Boolean = exchanges(plan)
    .exists(_.outputPartitioning.isInstanceOf[RangePartitioning])

  test("a small ranked-window sort reads one partition; a lower bound brings the range exchange back") {
    val (rows, plan, jobs) = run(topK)
    assert(!ranged(plan), plan)
    val sort = collect(plan) { case s: SortExec if s.global => s }
    assert(sort.size == 1, plan)
    assert(exchanges(sort.head)
      .count(_.outputPartitioning == SinglePartition) == 1, plan)

    val (rangedRows, rangedPlan, rangedJobs) =
      withConf(advisory -> "1k")(run(topK))
    assert(ranged(rangedPlan), rangedPlan)
    assert(rangedJobs == jobs + 1, s"$rangedJobs vs $jobs")

    val plain = withConf("spark.sql.adaptive.enabled" -> "false")(
      topK.collect().toSeq)
    assert(rows.size == 997 * 3)
    assert(rows == rangedRows && rows == plain)
  }

  test("a sort under a limit stays TakeOrderedAndProject with no added exchange") {
    val (rows, plan, _) = run(topK.limit(5))
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1,
      plan)
    assert(!exchanges(plan).exists(_.outputPartitioning == SinglePartition),
      plan)
    assert(rows == topK.collect().toSeq.take(5))
  }

  // Adaptive execution rejects a re-optimized plan with more exchanges,
  // so a rewrite under a limit never shows in a final plan: the rule is
  // applied to a measured stage directly.
  test("a sort that feeds a limit, or already reads one partition, is left alone") {
    val df = spark.range(0, 1000, 1, 2).repartition(3, $"id")
    df.collect()
    val stage = collect(df.queryExecution.executedPlan) {
      case s: ShuffleQueryStageExec => s
    }.head
    val measured = LogicalQueryStage(stage.logicalLink.get, stage)
    val sort = Sort(Seq(SortOrder(measured.output.head, Ascending)),
      global = true, measured)
    val single = sort.copy(child = Repartition(1, shuffle = true, measured))
    assert(SmallSort(sort) == single)
    assert(SmallSort(single) == single)
    val limited = Limit(Literal(5), Project(measured.output, sort))
    assert(SmallSort(limited) == limited)
  }

  test("a sort over a file scan alone keeps its range exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smallsort")
    try {
      val path = dir.resolve("t").toString
      spark.range(0, 1000, 1, 4).select(($"id" * 7 % 1000).as("x"))
        .write.parquet(path)
      val (rows, plan, _) = run(spark.read.parquet(path).orderBy($"x"))
      assert(ranged(plan), plan)
      assert(rows.map(_.getLong(0)) == (0L until 1000L))
    } finally graft.queries.Scratch.deleteRecursively(dir)
  }
}
