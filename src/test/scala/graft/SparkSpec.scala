package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, Test/fork := true). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Returns once every listener has seen the events posted so far.
    * Events reach listeners in order, so once a marker job started now
    * is seen, everything posted before it has been delivered.
    */
  protected def flushListeners(): Unit = {
    val sc = spark.sparkContext
    val group = s"flush-${System.nanoTime}"
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
            .contains(group)) seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "flush")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      assert(seen.await(30, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs `body` starts on this thread (and on the threads that
    * inherit its job group, as adaptive execution's do).
    */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime}"
    val counted = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
            .contains(group)) counted.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsOf")
      try body finally sc.clearJobGroup()
      flushListeners()
      counted.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.plans.GraftExtensions.builder(SparkSession.builder())
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
