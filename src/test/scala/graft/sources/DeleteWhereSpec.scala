package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Predicate delete with file-level targeting: only files whose stats
  * window may match are rewritten; replaced files leave the live file
  * list in the same commit that lists their survivors; NULL predicates
  * keep rows (SQL DELETE semantics).
  */
class DeleteWhereSpec extends SparkSpec with StoreCrashChecks {
  import spark.implicits._

  private def fresh(retain: Int = 0) = {
    val root = Files.createTempDirectory("graft_dw").toString
    (new TableStore(spark, root, retainGenerations = retain), root)
  }

  private def names(ts: TableStore): Set[String] =
    ts.read("t").inputFiles.map(_.split("/").last).toSet

  /** Live part-file names of one partition. */
  private def files(ts: TableStore, day: String): Set[String] =
    ts.read("t").inputFiles.filter(_.contains(s"/day=$day/"))
      .map(_.split("/").last).toSet

  test("stats-targeted: only files that may match are rewritten") {
    val (ts, _) = fresh()
    ts.rewrite("t", spark.range(400).toDF("k")
      .withColumn("v", $"k" * 10).repartitionByRange(4, $"k"))
    ts.analyze("t", Seq("k"))
    val before = names(ts)
    assert(before.size == 4)
    val touched = ts.deleteWhere("t", $"k" >= 100 && $"k" < 150)
    assert(touched >= 1 && touched <= 2, s"touched $touched files of 4")
    // untouched files keep their identity — their bytes never moved
    val after = names(ts)
    assert((before intersect after).size == before.size - touched)
    // results are exactly the filtered complement
    assert(ts.read("t").select(sum($"k")).as[Long].head() ==
      (0L until 400L).filterNot(k => k >= 100 && k < 150).sum)
    assert(ts.read("t").count() == 350)
    // a provably-disjoint delete is a free no-op
    val before2 = names(ts)
    assert(ts.deleteWhere("t", $"k" === 9999) == 0L)
    assert(names(ts) == before2)
  }

  test("NULL predicate keeps rows; no stats falls back to all files") {
    val (ts, _) = fresh()
    ts.rewrite("t", Seq((1L, "a"), (2L, null.asInstanceOf[String]),
      (3L, "b"), (4L, "a")).toDF("k", "s").repartition(2))
    // s === "a" is NULL for row 2: DELETE must keep it
    val touched = ts.deleteWhere("t", $"s" === "a")
    assert(touched >= 1) // no stats: every file counts as affected
    assert(ts.read("t").select("k").as[Long].collect().toSet ==
      Set(2L, 3L))
  }

  test("delete everything leaves a readable empty table with schema") {
    val (ts, _) = fresh()
    ts.rewrite("t", spark.range(50).toDF("k").repartition(2))
    assert(ts.deleteWhere("t", $"k" >= 0) == 2L)
    assert(ts.read("t").count() == 0)
    assert(ts.read("t").columns.toSeq == Seq("k"))
    // table remains fully mutable afterwards
    ts.append("t", Seq(7L).toDF("k"))
    assert(ts.read("t").as[Long].collect().toSeq == Seq(7L))
  }

  test("crash before settle: tombstones exclude files from every read path; next mutation settles") {
    def seed(ts: TableStore): Unit = {
      ts.rewrite("t", spark.range(100).toDF("k").repartitionByRange(2, $"k"))
      ts.analyze("t", Seq("k"))
    }
    // a REAL deleteWhere that dies after writing its survivors, before
    // its commit: every read path still sees the pre-delete table
    val ts = crashBeforeCas("t", seed)(_.deleteWhere("t", $"k" < 10),
      crashed => {
        assert(crashed.read("t").count() == 100)
        assert(crashed.readWhere("t", $"k" >= 0).count() == 100)
      })
    // the retried delete commits: both paths see the post-delete rows
    assert(ts.read("t").count() == 90)
    assert(ts.readWhere("t", $"k" >= 0).count() == 90)
    // the next mutation lands on the post-delete table
    ts.append("t", Seq(500L).toDF("k"))
    assert(ts.read("t").count() == 91)
  }

  test("retention: readAt resolves the pre-delete generation from the archive") {
    val (ts, _) = fresh(retain = 4)
    ts.rewrite("t", spark.range(60).toDF("k").repartitionByRange(3, $"k"))
    ts.analyze("t", Seq("k"))
    val gen0 = ts.generations("t").last
    val touched = ts.deleteWhere("t", $"k" < 20)
    assert(touched >= 1)
    assert(ts.read("t").count() == 40)
    // the deleted generation reads back complete from the archive
    assert(ts.readAt("t", gen0).count() == 60)
    assert(ts.readAt("t", gen0).select(sum($"k")).as[Long].head() ==
      (0L until 60L).sum)
  }


  test("updateWhere: stats-targeted, type-preserving, NULL pred unchanged") {
    val (ts, _) = fresh()
    ts.rewrite("t", spark.range(400).toDF("k")
      .withColumn("flag", lit(0))
      .withColumn("s", when($"k" % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("u"), $"k")))
      .repartitionByRange(4, $"k"))
    ts.analyze("t", Seq("k"))
    val before = names(ts)
    val touched = ts.updateWhere("t", $"k" >= 100 && $"k" < 150,
      Seq("flag" -> lit(9)))
    assert(touched >= 1 && touched <= 2, s"touched $touched of 4")
    assert((before intersect names(ts)).size == before.size - touched)
    // exactly the matching rows updated; assigned value cast to INT
    // (the column's existing type), not the literal's
    val got = ts.read("t")
    assert(got.schema("flag").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(got.filter($"flag" === 9).count() == 50)
    assert(got.filter($"flag" === 9).select(min($"k"), max($"k"))
      .as[(Long, Long)].head() == ((100L, 149L)))
    // a NULL-valued predicate leaves the row unchanged
    val t2 = ts.updateWhere("t", $"s".startsWith("u1"),
      Seq("flag" -> lit(1)))
    assert(t2 >= 1)
    assert(ts.read("t").filter($"s".isNull && $"flag" === 1).count() == 0)
    // consecutive targeted updates stay targeted (each commit carries
    // stats for its new files)
    val b3 = names(ts)
    val t3 = ts.updateWhere("t", $"k" === 120, Seq("flag" -> lit(2)))
    assert(t3 == 1L, s"expected 1 targeted file, got $t3")
    assert((b3 intersect names(ts)).size == b3.size - 1)
    assert(ts.read("t").filter($"flag" === 2).select($"k")
      .as[Long].collect().toSeq == Seq(120L))
  }


  test("updateWhere: assignments evaluate against the PRE-update row (swap works)") {
    val (ts, _) = fresh()
    ts.rewrite("t", Seq((1L, 10L, 20L, 0L), (2L, 30L, 40L, 0L))
      .toDF("k", "a", "b", "touched"))
    // swap a<->b AND flag the row, all WHERE a = 10: a sequential
    // fold would overwrite a first, lose the swap, and hide the
    // predicate from the later assignments
    ts.updateWhere("t", $"a" === 10,
      Seq("a" -> col("b"), "b" -> col("a"), "touched" -> lit(1L)))
    val got = ts.read("t").as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 20L, 10L, 1L), (2L, 30L, 40L, 0L)))
    intercept[IllegalArgumentException] {
      ts.updateWhere("t", $"k" === 1, Seq("a" -> lit(1L), "a" -> lit(2L)))
    }
  }

  test("updateWhere partition-targeted; unknown column rejected") {
    val (ts, _) = fresh()
    ts.append("t", spark.range(60)
      .select($"id".as("k"), lit(0).as("flag"),
        concat(lit("d"), $"id" % 3).as("day")),
      partitionBy = Seq("day"))
    val d0 = files(ts, "d0")
    val hit = ts.updateWhere("t", $"day" === "d1" && $"k" < 10,
      Seq("flag" -> lit(5)), partitionCols = Seq("day"))
    assert(hit == 1L)
    assert(files(ts, "d0") == d0)
    assert(ts.read("t").filter($"flag" === 5).select($"k")
      .as[Long].collect().toSet == Set(1L, 4L, 7L))
    intercept[IllegalArgumentException] {
      ts.updateWhere("t", $"k" === 1, Seq("nope" -> lit(1)))
    }
  }


  test("file-level mutations preserve a PARTITIONED layout") {
    val (ts, _) = fresh()
    ts.append("t", spark.range(120)
      .select($"id".as("k"), ($"id" * 2).as("v"),
        concat(lit("d"), $"id" % 3).as("day")),
      partitionBy = Seq("day"))
    ts.analyze("t", Seq("k"))
    // file-level (partitionCols = Nil) delete on a partitioned table:
    // replacement files must land INSIDE partition dirs
    val touched = ts.deleteWhere("t", $"k" >= 30 && $"k" < 40)
    assert(touched >= 1)
    assert(ts.read("t").inputFiles.forall(_.contains("/day=")),
      "replacement files landed outside the partition dirs")
    val t = ts.read("t")
    assert(t.count() == 110)
    assert(t.filter($"k".between(30, 39)).count() == 0)
    // partition column still discovered and prunable
    assert(t.filter($"day" === "d1").count() ==
      (0L until 120L).count(k => k % 3 == 1 && !(k >= 30 && k < 40)))
    // updateWhere through the same path
    val u = ts.updateWhere("t", $"k" === 50, Seq("v" -> lit(-1L)))
    assert(u >= 1)
    assert(ts.read("t").filter($"k" === 50).select($"v")
      .as[Long].head() == -1L)
    assert(ts.read("t").count() == 110)
    // merge (always file-level) on the partitioned table
    ts.merge("t", Seq((60L, -5L, "d0"), (2000L, 1L, "d2"))
      .toDF("k", "v", "day"), "k",
      TableStore.MergeUpdate(Seq("v")))
    val after = ts.read("t")
    assert(after.filter($"k" === 60).select($"v").as[Long].head() == -5L)
    assert(after.filter($"k" === 2000).count() == 1)
    assert(after.count() == 111)
    assert(ts.read("t").inputFiles.forall(_.contains("/day=")))
  }

  test("partition-targeted deleteWhere rewrites only hit partitions") {
    val (ts, _) = fresh()
    ts.append("t", spark.range(90)
      .select($"id".as("k"), concat(lit("d"), $"id" % 3).as("day")),
      partitionBy = Seq("day"))
    val d0 = files(ts, "d0"); val d1 = files(ts, "d1")
    val hit = ts.deleteWhere("t", $"day" === "d2" && $"k" > 50,
      partitionCols = Seq("day"))
    assert(hit == 1L)
    assert(files(ts, "d0") == d0 && files(ts, "d1") == d1) // untouched dirs
    assert(ts.read("t").count() == 90 - (51 to 89 by 1)
      .count(k => k % 3 == 2))
  }
}
