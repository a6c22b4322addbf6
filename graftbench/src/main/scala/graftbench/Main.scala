package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark JVM. Sets up a session over a fixture directory and runs
  * one gate pass over the workload's registry queries, writing each
  * result as parquet for the oracle gate. Then come `--warmup` untimed
  * warm passes and `--passes` timed passes (at least four when traced).
  * Every pass runs every query once in a seeded order. Every op is timed from outside in
  * three phases:
  *
  *  - build: `SparkEntry.queries(name)(spark, dir)` until it returns;
  *  - plan:  forcing `queryExecution.executedPlan` on the frame;
  *  - exec:  the materializing noop write.
  *
  * With `--trace 1`, half the passes are traced (job listener, plan
  * inspection, spans) and half are not, so the run reports its own
  * tracing overhead. Results go to `<out>/result.json`, spans to
  * `<out>/spans.jsonl`.
  *
  * Usage: Main --fixture DIR --out DIR --queries q1,q2 --seed N
  *             --passes P --warmup W --trace 0|1 --cores K
  */
object Main {
  final case class Opts(fixture: String, out: String, queries: Seq[String],
                        seed: Long, passes: Int, warmup: Int,
                        trace: Boolean, cores: Int)

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Opts(m("fixture"), m("out"), m("queries").split(',').toSeq, m("seed").toLong,
      m("passes").toInt, m("warmup").toInt, m("trace") == "1", m("cores").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.currentTimeMillis()
    val spark = session(o.cores)
    val t1 = System.currentTimeMillis()
    graft.Tables.names.foreach(graft.Tables.t(spark, o.fixture, _))
    val t2 = System.currentTimeMillis()
    val setupS = (t2 - jvmStart) / 1e3
    System.err.println(s"[graftbench] setup: jvm ${(t0 - jvmStart) / 1e3} s, " +
      s"session ${(t1 - t0) / 1e3} s, tables ${(t2 - t1) / 1e3} s")
    Files.createDirectories(Paths.get(o.out))
    try new Runner(spark, o).run(setupS)
    finally spark.stop()
  }

  /** The engine's session as its own harnesses build it, with the
    * counting filesystem installed for `file:` paths.
    */
  def session(cores: Int): SparkSession = {
    val spark = graft.plans.GraftExtensions.builder(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def fs = new Path("file:///").getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.isInstanceOf[CountingFileSystem]) FileSystem.closeAll()
    require(fs.isInstanceOf[CountingFileSystem],
      s"file: resolves to ${fs.getClass.getName}, not the counting filesystem")
    spark
  }
}

/** Engine state an op can leave behind: cached frames, checkpoint and
  * persisted blocks, operator pins and scratch directories under the
  * JVM's temp dir. Cleared after every op, outside its timing.
  */
object Cleanup {
  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  def tmpEntries(): Set[String] =
    Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)

  def apply(spark: SparkSession, tmpBefore: Set[String]): Unit = {
    graft.Engine.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (tmpEntries() -- tmpBefore).foreach(n =>
      graft.queries.Scratch.deleteRecursively(new File(tmp, n).toPath))
  }
}

final class Runner(spark: SparkSession, o: Main.Opts) {
  private val sc = spark.sparkContext
  private val tracker = new JobTracker
  private val plans = new ConcurrentLinkedQueue[PlanStats]()
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      plans.add(PlanStats.of(qe.executedPlan))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val spans = ArrayBuffer[Span]()
  private val opJson = ArrayBuffer[String]()
  private val passJson = ArrayBuffer[String]()
  private val failures = ArrayBuffer[(String, String)]()

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def mb(bytes: Long): String = Json.num(bytes / 1048576.0)
  private def secs(ns: Long): String = Json.num(ns / 1e9)

  def run(setupS: Double): Unit = {
    val gate = s"${o.out}/gate"
    val w0 = System.nanoTime()
    o.queries.foreach { name =>
      val before = Cleanup.tmpEntries()
      try query(name).write.mode("overwrite").parquet(s"$gate/$name")
      catch {
        case t: Throwable => failures += name -> ("gate pass: " + message(t))
      } finally Cleanup(spark, before)
    }
    // the JIT keeps compiling the engine's hot paths for several passes
    // after the first. A fixed number of warm passes, not a time budget,
    // so a faster engine is not measured warmer
    val warm = (1 to o.warmup).map(i => runPass(-i, traced = false, record = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(gate, "oracle_sql.json"), Json.obj(
      o.queries.filter(oracle.contains).map(n => n -> Json.str(oracle(n)))))

    // a fixed number of timed passes, so a faster engine is not measured
    // over more (and warmer) passes. A traced run orders its untraced and
    // traced passes U T T U ..., so both sides sample early and late
    // passes alike
    val t0 = System.nanoTime()
    val passes = if (o.trace) math.max(4, o.passes) else o.passes
    for (pass <- 0 until passes)
      runPass(pass, traced = o.trace && (pass % 4 == 1 || pass % 4 == 2), record = true)
    val timedS = (System.nanoTime() - t0) / 1e9

    // objects Spark's context cleaner releases only after a collection
    // has queued them: collect until the live heap stops shrinking
    var heapLive = Long.MaxValue
    var shrank = true
    while (shrank) {
      System.gc()
      Thread.sleep(200)
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      shrank = used < heapLive * 0.99
      heapLive = math.min(heapLive, used)
    }
    if (o.trace)
      Files.write(Paths.get(o.out, "spans.jsonl"), spans.map(_.json).asJava)
    Files.writeString(Paths.get(o.out, "result.json"), Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "warmup_s" -> Json.num(warmupS),
      "warm_pass_s" -> warm.map(secs).mkString("[", ",", "]"),
      "timed_s" -> Json.num(timedS),
      "heap_live_mb" -> mb(heapLive),
      "failures" -> failures.map { case (k, v) =>
        Json.obj(Seq("name" -> Json.str(k), "error" -> Json.str(v))) }.mkString("[", ",", "]"),
      "passes" -> passJson.mkString("[", ",", "]"),
      "ops" -> opJson.mkString("[", ",", "]"))))
  }

  private def query(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, o.fixture)

  private def message(t: Throwable): String =
    Option(t.getMessage).getOrElse(t.getClass.getName).take(300)

  /** Runs one pass and returns its wall time in ns; only a recorded pass
    * adds its ops and totals to the result.
    */
  private def runPass(pass: Int, traced: Boolean, record: Boolean): Long = {
    val order = new scala.util.Random(o.seed * 1000003L + pass).shuffle(o.queries)
    if (traced) attach()
    heapPools.foreach(_.resetPeakUsage())
    val load = osBean.getSystemLoadAverage
    val cpu0 = osBean.getProcessCpuTime
    val gc0 = gcMs()
    val jit0 = jit.getTotalCompilationTime
    val w0 = System.nanoTime()
    order.zipWithIndex.foreach { case (name, i) =>
      val op = runOp(s"$pass.$i", pass, name, traced)
      if (record) opJson += Json.obj(op)
    }
    val wall = System.nanoTime() - w0
    val cpu = osBean.getProcessCpuTime - cpu0
    val gc = gcMs() - gc0
    val jitMs = jit.getTotalCompilationTime - jit0
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    if (traced) detach()
    if (record) passJson += Json.obj(Seq(
      "pass" -> pass.toString, "traced" -> traced.toString,
      "wall_s" -> secs(wall), "cpu_s" -> secs(cpu),
      "gc_s" -> Json.num(gc / 1e3), "jit_s" -> Json.num(jitMs / 1e3),
      "heap_peak_mb" -> mb(heapPeak),
      "load_avg" -> Json.num(load)))
    wall
  }

  def attach(): Unit = {
    // events of earlier, untraced ops still queued must not reach the
    // instruments
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(tracker)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(planListener)
    sc.removeSparkListener(tracker)
  }

  /** Runs one op and returns its record; with `traced`, the tracing
    * instruments must be attached.
    */
  def runOp(seq: String, pass: Int, name: String,
            traced: Boolean): Seq[(String, String)] = {
    val tmpBefore = Cleanup.tmpEntries()
    val fs0 = FsCounters.snapshot()
    val marks = ArrayBuffer(System.currentTimeMillis())
    val n0 = System.nanoTime()
    val nanos = ArrayBuffer[Long]()
    def phase(p: String)(body: => Unit): Unit = {
      sc.setJobGroup(s"gb-$seq-$p", s"$name $p", interruptOnCancel = false)
      body
      nanos += System.nanoTime()
      marks += System.currentTimeMillis()
    }
    val err =
      try {
        var df: DataFrame = null
        phase("build") { df = query(name) }
        phase("plan")(df.queryExecution.executedPlan)
        phase("exec")(df.write.format("noop").mode("overwrite").save())
        None
      } catch {
        case t: Throwable => Some(message(t))
      } finally sc.clearJobGroup()
    if (err.isDefined) marks += System.currentTimeMillis()
    val latency = System.nanoTime() - n0
    val fs = FsCounters.snapshot() - fs0
    Cleanup(spark, tmpBefore)
    err.foreach(e => failures += name -> s"pass $pass: $e")
    val ends = nanos.toSeq
    val phaseS = (n0 +: ends).zip(ends).map { case (a, b) => secs(b - a) }.padTo(3, "0")
    val base = Seq("seq" -> Json.str(seq), "pass" -> pass.toString,
      "name" -> Json.str(name), "ok" -> err.isEmpty.toString,
      "latency_s" -> secs(latency), "build_s" -> phaseS(0),
      "plan_s" -> phaseS(1), "exec_s" -> phaseS(2), "traced" -> traced.toString)
    base ++ (if (traced) traceOp(seq, name, marks.toSeq, fs) else Nil)
  }

  /** Per-layer counters of one traced op, from the jobs and plans its
    * phases produced and the filesystem calls it made.
    */
  private def traceOp(seq: String, name: String, marks: Seq[Long],
                      fs: FsCounters.Snapshot): Seq[(String, String)] = {
    ListenerBusAccess.drain(sc)
    val start = marks.head
    val end = marks.last
    val jobs = tracker.jobs.values.toSeq.sortBy(_.id)
    tracker.clear()
    val planStats = Iterator.continually(plans.poll()).takeWhile(_ != null)
      .foldLeft(PlanStats.zero)(_ + _)
    val phases = Seq("build", "plan", "exec")
    spans += Span(s"op:$seq", "", name, start, end)
    phases.zip(marks.zip(marks.drop(1))).foreach { case (p, (s, e)) =>
      spans += Span(s"ph:$seq:$p", s"op:$seq", p, s, e)
    }
    def phaseOf(j: JobRec) = j.group.stripPrefix(s"gb-$seq-")
    def endOf(j: JobRec) = if (j.endMs < 0) end else j.endMs
    jobs.foreach { j =>
      val parent = if (phases.contains(phaseOf(j))) s"ph:$seq:${phaseOf(j)}" else s"op:$seq"
      spans += Span(s"job:${j.id}", parent, s"job ${j.id} ${j.module}", j.startMs, endOf(j))
    }
    val union = Intervals.unionLength(jobs.map(j => (j.startMs, endOf(j))), start, end)
    def sumL(f: JobRec => Long) = jobs.map(f).sum
    val byModule = Seq("operators", "pipelines", "sources").flatMap { m =>
      val js = jobs.filter(_.module == m)
      Seq(s"$m.jobs" -> js.size.toString,
        s"$m.job_s" -> Json.num(js.map(j => endOf(j) - j.startMs).sum / 1e3))
    }
    Seq(
      "wall_ms" -> (end - start).toString,
      "queries.build_jobs" -> jobs.count(phaseOf(_) == "build").toString,
      "spark.jobs" -> jobs.size.toString,
      "spark.stages" -> jobs.map(_.stages).sum.toString,
      "spark.tasks" -> jobs.map(_.tasks).sum.toString,
      "spark.driver_gap_s" -> Json.num((end - start - union) / 1e3),
      "spark.task_busy_s" -> Json.num(sumL(_.taskMs) / 1e3),
      "spark.task_run_s" -> Json.num(sumL(_.runMs) / 1e3),
      "spark.task_cpu_s" -> Json.num(sumL(_.cpuNs) / 1e9),
      "spark.task_gc_s" -> Json.num(sumL(_.gcMs) / 1e3),
      "spark.shuffle_write_mb" -> mb(sumL(_.shuffleWrite)),
      "spark.shuffle_read_mb" -> mb(sumL(_.shuffleRead)),
      "spark.spill_mb" -> mb(sumL(_.spill)),
      "spark.input_mb" -> mb(sumL(_.input)),
      "plans.operators" -> planStats.operators.toString,
      "plans.codegen_operators" -> planStats.inCodegen.toString,
      "plans.exchanges" -> planStats.exchanges.toString,
      "plans.single_partition_exchanges" -> planStats.singlePartitionExchanges.toString,
      "plans.codegen_fallback_exprs" -> planStats.fallbackExprs.toString,
      "sources.fs_creates" -> fs.creates.toString,
      "sources.fs_renames" -> fs.renames.toString,
      "sources.fs_deletes" -> fs.deletes.toString,
      "sources.fs_lists" -> fs.lists.toString,
      "sources.fs_status" -> fs.status.toString,
      "sources.fs_opens" -> fs.opens.toString,
      "sources.fs_mkdirs" -> fs.mkdirs.toString,
      "sources.fs_s" -> Json.num(fs.nanos / 1e9),
      "sources.bytes_written_mb" -> mb(fs.bytesWritten)) ++ byModule
  }
}
