package graftbench

import java.util.Properties

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Maps a job's call site to the graft module of the innermost engine
  * frame on it: `operators`, `sources`, `pipelines`, `queries`, ... The
  * engine's root package (`graft.Tables`, ...) maps to `graft`; a job
  * with no engine frame (the benchmark's own materializing write) maps
  * to `none`.
  */
object Modules {
  def of(callSite: String): String =
    callSite.linesIterator.map(_.trim.stripPrefix("at ").trim)
      .collectFirst { case f if f.startsWith("graft.") =>
        val seg = f.stripPrefix("graft.").takeWhile(c => c != '.' && c != '(')
        if (seg.nonEmpty && seg.head.isLower) seg else "graft"
      }
      .getOrElse("none")
}

/** One Spark job as seen from outside: the job group the benchmark set
  * for the op and phase that started it, the module of its call site,
  * its interval (listener event times, epoch ms) and the totals of the
  * tasks of its stages.
  */
final class JobRec(val id: Int, val group: String, val module: String,
                   val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages, tasks = 0
  var taskMs, runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L
}

/** Listener attributing jobs, stages and tasks to the job group set by
  * the benchmark for each op and phase. Stages are matched to jobs
  * through `JobStart.stageIds` (a stage shared by several jobs counts
  * for the first); tasks through their stage.
  *
  * A job's module comes from the call site of the SQL execution it runs
  * under, taken on the thread that started the execution. Adaptive
  * execution submits a query's stages from a pool thread, so the call
  * sites of the job's own stages name no engine frame; they are used only
  * for jobs outside any SQL execution (RDD actions).
  */
class JobTracker extends SparkListener {
  val jobs = TrieMap[Int, JobRec]()
  private val stageJob = TrieMap[Int, Int]()
  private val execModule = TrieMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execModule(s.executionId) = Modules.of(s.details)
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties).getOrElse(new Properties())
    val group = Option(props.getProperty("spark.jobGroup.id")).getOrElse("")
    val exec = Option(props.getProperty("spark.sql.execution.id")).map(_.toLong)
    val module = exec.flatMap(execModule.get).getOrElse {
      val callSite =
        if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).details
      Modules.of(callSite)
    }
    jobs(js.jobId) = new JobRec(js.jobId, group, module, js.time)
    js.stageIds.foreach(stageJob.putIfAbsent(_, js.jobId))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobs.get(je.jobId).foreach(_.endMs = je.time)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    job(sc.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    job(te.stageId).foreach { j =>
      val m = te.taskMetrics
      j.synchronized {
        j.tasks += 1
        j.taskMs += te.taskInfo.duration
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
        }
      }
    }

  private def job(stageId: Int): Option[JobRec] =
    stageJob.get(stageId).flatMap(jobs.get)

  def clear(): Unit = { jobs.clear(); stageJob.clear(); execModule.clear() }
}

/** A span in the op -> phase -> job tree, epoch milliseconds. */
final case class Span(id: String, parent: String, name: String,
                      startMs: Long, endMs: Long) {
  def json: String =
    s"""{"id":"$id","parent":"$parent","name":"${Json.esc(name)}","start_ms":$startMs,"end_ms":$endMs}"""
}

object Intervals {
  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
