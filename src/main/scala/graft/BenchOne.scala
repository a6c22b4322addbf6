package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import scala.collection.concurrent.TrieMap

/** Profiling harness for optimization work: run named queries (warmup
  * + timed, noop sink) and print a per-Spark-job breakdown of the
  * timed pass — job wall seconds, stage count, task count, shuffle
  * bytes — so builder-side action loops (TableStore commits, iterative
  * operators) can be attributed job by job. Usage:
  *   BenchOne <sfDir> <name> [<name> ...]
  */
object BenchOne {

  /** One recorded job: its wall span and what its stages ran. */
  final case class JobRec(id: Int, start: Long, desc: String,
                          var end: Long = 0L, var stages: Int = 0,
                          var tasks: Int = 0, var shuffleRead: Long = 0L,
                          var shuffleWrite: Long = 0L)

  /** Records the jobs started while `recording` and files each completed
    * stage under the job that submitted it (`SparkListenerJobStart`'s
    * stage ids; a stage shared by two jobs goes to the first). Adaptive
    * execution runs broadcast and shuffle-map jobs concurrently, so the
    * most recent job is not the stage's own.
    */
  final class Ledger extends SparkListener {
    val jobs = new TrieMap[Int, JobRec]()
    private val stageJob = new TrieMap[Int, Int]()
    @volatile var recording = false

    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (recording) {
        jobs(js.jobId) = JobRec(js.jobId, js.time,
          Option(js.properties).map { p =>
            Seq("spark.job.description", "callSite.short")
              .flatMap(k => Option(p.getProperty(k))).mkString(" | ")
          }.getOrElse(""))
        js.stageIds.foreach(stageJob.putIfAbsent(_, js.jobId))
      }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.get(je.jobId).foreach(_.end = je.time)

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.synchronized {
          j.stages += 1
          j.tasks += si.numTasks
          j.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    def clear(): Unit = { jobs.clear(); stageJob.clear() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = Harness.session(defaultCpus = 32)
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)

    names.foreach { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Harness.releaseCaches(spark)
        (System.nanoTime() - t0) / 1e9
      }
      val w = once() // warmup
      ledger.clear(); ledger.recording = true
      val t = once()
      Thread.sleep(200) // let listener events drain
      ledger.recording = false
      System.err.println(f"== $name warmup=$w%.2fs timed=$t%.2fs jobs=${ledger.jobs.size} ==")
      val recs = ledger.jobs.values.toSeq.sortBy(_.id)
      recs.foreach { j =>
        val dt = (j.end - j.start) / 1e3
        System.err.println(f"  job ${j.id}%4d ${dt}%7.3fs stages=${j.stages}%2d tasks=${j.tasks}%4d shR=${j.shuffleRead / 1024}%8dK shW=${j.shuffleWrite / 1024}%8dK  ${j.desc.take(80)}")
      }
      val covered = recs.map(j => (j.end - j.start) / 1e3).sum
      System.err.println(f"  sum(job wall)=$covered%.2fs  gap(driver/planning)=${t - covered}%.2fs")
    }
    spark.stop()
  }
}
