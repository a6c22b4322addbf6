package graft

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** [[BenchOne.Ledger]] files each stage under the job that ran it, also
  * when adaptive execution runs a broadcast job beside a shuffle-map job.
  */
class BenchOneSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("a broadcast join's concurrent jobs each get their own stage") {
    val ledger = new BenchOne.Ledger
    val sc = spark.sparkContext
    sc.addSparkListener(ledger)
    // the aggregate's map stage outlasts the start of the broadcast job
    val df = spark.range(0, 4000000, 1, 4)
      .groupBy(($"id" % 1000).as("k")).agg(sum($"id").as("s"))
      .join(broadcast(spark.range(0, 1000, 1, 2)
        .select($"id".as("k"), ($"id" * 2).as("w"))), "k")
    try {
      ledger.recording = true
      assert(df.collect().length == 1000)
      flushListeners()
    } finally sc.removeSparkListener(ledger)
    val plan = df.queryExecution.executedPlan
      .asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size == 1,
      plan)
    // every job of an adaptive query runs one stage: the aggregate's map
    // stage, the broadcast side, the result stage
    val jobs = ledger.jobs.values.toSeq.sortBy(_.id)
      .filterNot(_.desc.startsWith("flush"))
    assert(jobs.size == 3, jobs)
    assert(jobs.forall(_.stages == 1), jobs)
    assert(Set(2, 4).subsetOf(jobs.map(_.tasks).toSet), jobs)
  }
}
