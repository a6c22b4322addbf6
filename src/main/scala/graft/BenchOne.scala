package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}

/** Profiling harness for optimization work: run named queries (warmup
  * + timed, noop sink) and print a per-Spark-job breakdown of the
  * timed pass — job wall seconds, stage count, task count, shuffle
  * bytes — so builder-side action loops (TableStore commits, iterative
  * operators) can be attributed job by job. Usage:
  *   BenchOne <sfDir> <name> [<name> ...]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = Harness.session(defaultCpus = 32)

    case class JobRec(id: Int, start: Long, var end: Long = 0L,
                      var stages: Int = 0, var tasks: Int = 0,
                      var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
                      desc: String)
    val jobs = new scala.collection.concurrent.TrieMap[Int, JobRec]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (recording) jobs(js.jobId) = JobRec(js.jobId, js.time,
          desc = Option(js.properties).map { p =>
            Seq("spark.job.description", "callSite.short")
              .flatMap(k => Option(p.getProperty(k))).mkString(" | ")
          }.getOrElse(""))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.get(je.jobId).foreach(_.end = je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // attribute the stage to the most recent recorded job (local
        // mode, sequential actions — good enough for profiling)
        jobs.values.toSeq.sortBy(-_.id).headOption.foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          j.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Harness.releaseCaches(spark)
        (System.nanoTime() - t0) / 1e9
      }
      val w = once() // warmup
      jobs.clear(); recording = true
      val t = once()
      recording = false
      Thread.sleep(200) // let listener events drain
      System.err.println(f"== $name warmup=$w%.2fs timed=$t%.2fs jobs=${jobs.size} ==")
      val recs = jobs.values.toSeq.sortBy(_.id)
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
