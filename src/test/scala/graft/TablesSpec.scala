package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** [[Tables.t]] reads every table exactly as `spark.read.parquet` does
  * — same schema, same rows — while resolving it on the driver: no
  * Spark job to infer a schema, and a fresh resolve whenever the files
  * or the session's parquet conversion flags change.
  */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val made = scala.collection.mutable.Buffer[File]()

  private def tmp(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    made.synchronized(made += d)
    d
  }

  override def afterAll(): Unit =
    made.foreach(org.apache.commons.io.FileUtils.deleteQuietly)

  /** A fresh copy of the sf0.001 tables: paths no earlier call has
    * resolved, so loading them is a cold load.
    */
  private def freshCopy(): String = {
    val dir = tmp("graft_tables")
    Tables.names.foreach { n =>
      Files.copy(new File(s"$sf/$n.parquet").toPath,
        new File(dir, s"$n.parquet").toPath)
    }
    dir.toString
  }

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case v => v
    }).toSeq.sortBy(_.toString)

  test("all ten tables read with spark.read.parquet's schema and rows") {
    Tables.names.foreach { n =>
      val direct = spark.read.parquet(s"$sf/$n.parquet")
      val df = Tables.t(spark, sf, n)
      assert(df.schema == direct.schema, n)
      assert(df.count() == direct.count(), n)
      assert(df.inputFiles.toSeq == direct.inputFiles.toSeq, n)
    }
    assert(rows(Tables.t(spark, sf, "nation")) ==
      rows(spark.read.parquet(s"$sf/nation.parquet")))
  }

  test("a cold load of the ten tables starts no Spark job") {
    val dir = freshCopy()
    assert(jobsOf(Tables.names.foreach(Tables.t(spark, dir, _))) == 0)
    // and a warm call re-resolves nothing either
    assert(jobsOf(Tables.names.foreach(Tables.t(spark, dir, _))) == 0)
  }

  test("a Spark-written directory of part files reads as spark.read.parquet") {
    val dir = tmp("graft_tables_dir").toString
    spark.range(0, 40).select(
        col("id"),
        (col("id") % 7).cast("int").as("k"),
        concat(lit("s"), col("id").cast("string")).as("s"),
        array(col("id"), col("id") + 1).as("arr"),
        map(lit("a"), col("id")).as("m"),
        struct(col("id").as("x"), lit(1.5).as("y")).as("st"),
        timestamp_seconds(col("id")).as("ts"))
      .repartition(3)
      .write.parquet(s"$dir/wide.parquet")
    val parts = new File(s"$dir/wide.parquet").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts == 3)
    var df: DataFrame = null
    assert(jobsOf { df = Tables.t(spark, dir, "wide") } == 0)
    val direct = spark.read.parquet(s"$dir/wide.parquet")
    assert(df.schema == direct.schema)
    assert(rows(df) == rows(direct))
    assert(df.inputFiles.sorted.sameElements(direct.inputFiles.sorted),
      df.inputFiles.mkString(",") + " vs " + direct.inputFiles.mkString(","))
  }

  test("a k=v partitioned directory keeps Spark's own inference") {
    val dir = tmp("graft_tables_part").toString
    spark.range(0, 12).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(s"$dir/byk.parquet")
    val df = Tables.t(spark, dir, "byk")
    val direct = spark.read.parquet(s"$dir/byk.parquet")
    assert(df.schema == direct.schema)
    assert(df.schema.fieldNames.toSeq == Seq("id", "k"))
    assert(rows(df) == rows(direct))
  }

  test("rewriting a table's file resolves its schema again") {
    val src = tmp("graft_tables_src").toString
    spark.range(0, 5).select(col("id")).coalesce(1)
      .write.parquet(s"$src/a")
    spark.range(0, 5).select(col("id"), col("id").cast("string").as("s"))
      .coalesce(1).write.parquet(s"$src/b")
    def part(d: String) =
      new File(s"$src/$d").listFiles().find(_.getName.startsWith("part-")).get
    val dir = tmp("graft_tables_rw")
    val table = new File(dir, "t.parquet")
    Files.copy(part("a").toPath, table.toPath)
    val mtime = table.lastModified
    assert(Tables.t(spark, dir.toString, "t").schema.fieldNames.toSeq ==
      Seq("id"))
    Files.copy(part("b").toPath, table.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    assert(table.setLastModified(mtime + 2000))
    val df = Tables.t(spark, dir.toString, "t")
    assert(df.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(df.schema == spark.read.parquet(table.toString).schema)
    assert(df.count() == 5)
  }

  test("the session's parquet conversion flags key the resolved schema") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(key)
    assert(Tables.t(spark, sf, "events").schema("ts").dataType.typeName ==
      "timestamp_ntz")
    try {
      spark.conf.set(key, "false")
      val direct = spark.read.parquet(s"$sf/events.parquet")
      assert(direct.schema("ts").dataType == TimestampType)
      assert(Tables.t(spark, sf, "events").schema == direct.schema)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(Tables.t(spark, sf, "events").schema("ts").dataType.typeName ==
      "timestamp_ntz")
  }

  test("two threads loading the same table get equal frames") {
    val dir = freshCopy()
    val loads = Seq.fill(2)(Future(Tables.t(spark, dir, "orders")))
    val Seq(a, b) = loads.map(Await.result(_, 60.seconds))
    assert(a.schema == b.schema)
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    assert(rows(a) == rows(b))
    assert(a.schema == spark.read.parquet(s"$dir/orders.parquet").schema)
  }
}
