package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's outside-in instruments: job-group attribution, call
  * site to module mapping, the counting filesystem, and the repeatability
  * of the traced counters.
  */
class InstrumentsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = Main.session(2)
  private lazy val tmp: Path = {
    Files.createDirectories(Path.of(System.getProperty("java.io.tmpdir")))
    Files.createTempDirectory("instruments")
  }
  // the benchmark's sf0.1 tables
  private lazy val fixture: String = {
    val dir = Path.of("data", "sf0.1").toAbsolutePath.toString
    graft.Tables.names.foreach(graft.Tables.t(spark, dir, _))
    dir
  }

  override def afterAll(): Unit = {
    spark.stop()
    graft.queries.Scratch.deleteRecursively(tmp)
  }

  private def tracked[T](body: JobTracker => T): T = {
    val tracker = new JobTracker
    spark.sparkContext.addSparkListener(tracker)
    try body(tracker)
    finally spark.sparkContext.removeSparkListener(tracker)
  }

  test("job groups attribute jobs and stages to their op and phase") {
    tracked { tracker =>
      val sc = spark.sparkContext
      val df = spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()
      sc.setJobGroup("gb-0.0-build", "build", interruptOnCancel = false)
      spark.range(10).collect()
      sc.setJobGroup("gb-0.0-exec", "exec", interruptOnCancel = false)
      df.collect()
      sc.setJobGroup("gb-0.1-exec", "other op", interruptOnCancel = false)
      spark.range(5).collect()
      sc.clearJobGroup()
      ListenerBusAccess.drain(sc)

      def jobsOf(prefix: String) =
        tracker.jobs.values.filter(_.group.startsWith(prefix)).toSeq
      val build = jobsOf("gb-0.0-build")
      val exec = jobsOf("gb-0.0-exec")
      assert(build.size == 1 && build.head.stages == 1)
      assert(build.head.tasks == build.head.stages * sc.defaultParallelism)
      // the aggregation is a shuffle map stage plus a result stage, possibly
      // split by AQE into two jobs; together they ran both stages
      assert(exec.nonEmpty && exec.map(_.stages).sum == 2)
      assert(exec.forall(_.tasks > 0) && exec.forall(_.endMs >= 0))
      assert(exec.map(_.shuffleWrite).sum > 0)
      assert(jobsOf("gb-0.0-").size == build.size + exec.size)
      assert(jobsOf("gb-0.1-").size == 1)
    }
  }

  test("call sites map to the graft module of the innermost engine frame") {
    assert(Modules.of(
      """graft.operators.Dedup$.exact(Dedup.scala:88)
        |graft.queries.CoreQueries$.$anonfun$q16$1(CoreQueries.scala:40)
        |graftbench.Runner.runOp(Main.scala:230)""".stripMargin) == "operators")
    assert(Modules.of("graftbench.Runner.runOp(Main.scala:230)\n" +
      "graft.sources.TableStore.append(TableStore.scala:853)") == "sources")
    assert(Modules.of("graft.Tables$.t(Tables.scala:40)") == "graft")
    assert(Modules.of("graftbench.Runner.runOp(Main.scala:230)") == "none")
    assert(Modules.of("") == "none")

    // a live job: TableStore's write job is attributed to sources
    tracked { tracker =>
      new graft.sources.TableStore(spark, tmp.resolve("store-module").toString)
        .append("t", spark.range(100).toDF("k"))
      ListenerBusAccess.drain(spark.sparkContext)
      val modules = tracker.jobs.values.map(_.module).toSet
      assert(modules.contains("sources"), modules)
    }

    // SQL jobs whose stages adaptive execution submits from a pool thread:
    // the SRM check's own collect is filed under operators, a collect
    // from outside the engine under none
    val dir = fixture
    tracked { tracker =>
      graft.SparkEntry.queries("q205_srm_check")(spark, dir)
      ListenerBusAccess.drain(spark.sparkContext)
      val modules = tracker.jobs.values.map(_.module).toSet
      assert(modules == Set("operators"), modules)
      tracker.clear()
      spark.range(0, 100, 1, 2).groupBy(col("id") % 3).count().collect()
      ListenerBusAccess.drain(spark.sparkContext)
      assert(tracker.jobs.values.map(_.module).toSet == Set("none"))
    }
  }

  test("the counting filesystem totals a TableStore append") {
    def appendOnce(root: Path): FsCounters.Snapshot = {
      val before = FsCounters.snapshot()
      new graft.sources.TableStore(spark, root.toString)
        .append("t", spark.range(0, 1000, 1, 2).toDF("k"))
      FsCounters.snapshot() - before
    }
    val a = tmp.resolve("store-a")
    val fs = appendOnce(a)
    val files = Files.walk(a).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
    val bytes = files.map(Files.size).sum
    val dataFiles = files.count(!_.getFileName.toString.endsWith(".crc"))
    // every file left on disk was created through the filesystem (checksum
    // files underneath it), and all of its bytes were written through it
    assert(dataFiles > 0 && fs.creates >= dataFiles, (fs, dataFiles))
    assert(fs.bytesWritten >= bytes, (fs, bytes))
    assert(fs.mkdirs > 0 && fs.status > 0 && fs.nanos > 0)
    // the same append into a fresh store makes exactly the same calls
    val again = appendOnce(tmp.resolve("store-b"))
    assert(again.copy(nanos = 0) == fs.copy(nanos = 0))
  }

  test("traced counters repeat exactly across two runs of one op") {
    val deterministic = Seq("queries.build_jobs", "spark.jobs",
      "plans.operators", "plans.codegen_operators",
      "plans.exchanges", "plans.single_partition_exchanges",
      "plans.codegen_fallback_exprs", "operators.jobs", "pipelines.jobs",
      "sources.jobs", "sources.fs_creates", "sources.fs_renames",
      "sources.fs_deletes", "sources.fs_lists", "sources.fs_status",
      "sources.fs_opens", "sources.fs_mkdirs", "sources.bytes_written_mb")
    val opts = Main.Opts(fixture, tmp.resolve("out").toString, Nil, 7, 0, 0,
      trace = true, cores = 2)
    val runner = new Runner(spark, opts)
    for (q <- Seq("q01_agg_groupby", "q205_srm_check", "q252_orc_roundtrip")) {
      runner.runOp("w", 0, q, traced = false)
      val runs = (1 to 2).map { i =>
        runner.attach()
        try runner.runOp(s"t$i", i, q, traced = true).toMap
        finally runner.detach()
      }
      assert(runs.forall(_("ok") == "true"), runs)
      val counters = runs.map(r => deterministic.map(k => k -> r(k)))
      assert(counters(0) == counters(1),
        s"$q: ${counters(0).zip(counters(1)).filter { case (a, b) => a != b }}")
      assert(runs(0)("spark.jobs").toInt > 0)
    }
  }
}
