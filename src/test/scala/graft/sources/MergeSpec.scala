package graft.sources

import graft.SparkSpec
import graft.sources.TableStore.{MergeDelete, MergeUpdate}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** MERGE INTO with file-level key-range targeting: matched rows
  * update/delete, unmatched source rows insert, all in one commit; only
  * table files whose key window intersects the source's range move.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def fresh() = {
    val root = Files.createTempDirectory("graft_mg").toString
    new TableStore(spark, root)
  }

  private def names(ts: TableStore): Set[String] =
    ts.read("t").inputFiles.map(_.split("/").last).toSet

  test("matched update + unmatched insert in one commit; files targeted") {
    val ts = fresh()
    ts.rewrite("t", spark.range(400)
      .select($"id".as("k"), ($"id" * 10).as("v"), lit("old").as("tag"))
      .repartitionByRange(4, $"k"))
    ts.analyze("t", Seq("k"))
    val before = names(ts)
    // source: keys 100..104 exist (update), 1000..1002 are new (insert)
    val src = ((100L to 104L) ++ (1000L to 1002L))
      .map(k => (k, k + 7, "new")).toDF("k", "v", "tag")
    val touched = ts.merge("t", src, "k", MergeUpdate(Seq("v", "tag")))
    assert(touched >= 1 && touched < 4, s"touched $touched of 4")
    // key-disjoint files never moved
    assert((before intersect names(ts)).size == before.size - touched)
    val t = ts.read("t")
    assert(t.count() == 403)
    // matched rows took the source's values
    assert(t.filter($"k".between(100, 104))
      .select($"v", $"tag").as[(Long, String)].collect().toSet ==
      (100L to 104L).map(k => (k + 7, "new")).toSet)
    // neighbors inside the touched file(s) are untouched
    assert(t.filter($"k" === 99).select($"v", $"tag")
      .as[(Long, String)].head() == ((990L, "old")))
    // inserts landed once each
    assert(t.filter($"k" >= 1000).select($"k", $"v", $"tag")
      .as[(Long, Long, String)].collect().toSet ==
      (1000L to 1002L).map(k => (k, k + 7, "new")).toSet)
  }

  test("matched delete + insert; pure-insert merge appends without rewrites") {
    val ts = fresh()
    ts.rewrite("t", spark.range(100)
      .select($"id".as("k"), ($"id" % 5).as("v"))
      .repartitionByRange(2, $"k"))
    ts.analyze("t", Seq("k"))
    val touched = ts.merge("t",
      Seq((10L, 0L), (11L, 0L), (500L, 9L)).toDF("k", "v"),
      "k", MergeDelete)
    assert(touched >= 1)
    val t = ts.read("t")
    assert(t.count() == 100 - 2 + 1)
    assert(t.filter($"k".isin(10, 11)).count() == 0)
    assert(t.filter($"k" === 500).select($"v").as[Long].head() == 9L)
    // a source wholly outside every file's window: zero rewrites, pure append
    val before = names(ts)
    val t2 = ts.merge("t", Seq((9000L, 1L)).toDF("k", "v"), "k",
      MergeUpdate(Seq("v")))
    assert(t2 == 0L)
    assert(before.subsetOf(names(ts))) // nothing rewritten, one add
    assert(ts.read("t").filter($"k" === 9000).count() == 1)
  }

  test("insertNotMatched=false updates only; guards fire loudly") {
    val ts = fresh()
    ts.rewrite("t", spark.range(50).select($"id".as("k"), lit(1L).as("v")))
    val touched = ts.merge("t",
      Seq((5L, 99L), (777L, 99L)).toDF("k", "v"), "k",
      MergeUpdate(Seq("v")), insertNotMatched = false)
    assert(touched >= 1)
    assert(ts.read("t").count() == 50) // 777 NOT inserted
    assert(ts.read("t").filter($"k" === 5).select($"v").as[Long]
      .head() == 99L)
    // duplicate source keys are ambiguous
    intercept[IllegalArgumentException] {
      ts.merge("t", Seq((1L, 1L), (1L, 2L)).toDF("k", "v"), "k",
        MergeUpdate(Seq("v")))
    }
    // NULL source keys rejected
    intercept[IllegalArgumentException] {
      ts.merge("t", Seq((java.lang.Long.valueOf(1L), 1L),
        (null.asInstanceOf[java.lang.Long], 2L)).toDF("k", "v"), "k",
        MergeUpdate(Seq("v")))
    }
    // source-only columns rejected (schema drift)
    intercept[IllegalArgumentException] {
      ts.merge("t", Seq((1L, 1L, "x")).toDF("k", "v", "extra"), "k",
        MergeUpdate(Seq("v")))
    }
  }


  test("OCC: merge retries cleanly when a concurrent append wins the sequence") {
    val root = Files.createTempDirectory("graft_mgocc").toString
    val w1 = new TableStore(spark, root)
    val w2 = new TableStore(spark, root)
    w1.rewrite("t", spark.range(100)
      .select($"id".as("k"), ($"id" * 2).as("v"))
      .repartitionByRange(2, $"k"))
    w1.analyze("t", Seq("k"))
    // w2 stages its merge, then w1 appends first: w2's CAS loses and
    // the WHOLE merge re-derives against w1's generation — including
    // re-reading the now-larger table (key 300 exists after the append,
    // so the retry must UPDATE it instead of inserting a duplicate)
    var fired = false
    w2.beforeBeginCommit = () => if (!fired) {
      fired = true
      w1.append("t", Seq((300L, 0L)).toDF("k", "v"))
    }
    w2.merge("t", Seq((50L, -1L), (300L, -2L)).toDF("k", "v"), "k",
      TableStore.MergeUpdate(Seq("v")))
    w2.beforeBeginCommit = () => ()
    assert(fired)
    val got = w1.read("t").as[(Long, Long)].collect()
    assert(got.length == 101) // no duplicate key 300
    val m = got.toMap
    assert(m(50L) == -1L && m(300L) == -2L && m(49L) == 98L)
  }


  test("review fixes: key in update cols is a no-op; type conflicts reject") {
    val ts = fresh()
    ts.rewrite("t", spark.range(20).select($"id".as("k"), lit(1L).as("v")))
    // the CDC-common shape: update list includes the key itself
    val touched = ts.merge("t", Seq((5L, 50L), (100L, 77L)).toDF("k", "v"),
      "k", MergeUpdate(Seq("k", "v")))
    assert(touched >= 1)
    val got = ts.read("t").as[(Long, Long)].collect().toMap
    assert(got(5L) == 50L && got(100L) == 77L && got.size == 21)
    // a shared column with a DIFFERENT type must throw, not null-cast
    intercept[IllegalArgumentException] {
      ts.merge("t", Seq((1L, "12x")).toDF("k", "v"), "k",
        MergeUpdate(Seq("v")))
    }
  }

  test("merge equals the driver-computed expectation on a mixed batch") {
    val ts = fresh()
    ts.rewrite("t", spark.range(200)
      .select($"id".as("k"), ($"id" * 2).as("v"))
      .repartitionByRange(3, $"k"))
    ts.analyze("t", Seq("k"))
    val srcRows = (150L to 260L by 10).map(k => (k, -k)).toSeq
    ts.merge("t", srcRows.toDF("k", "v"), "k", MergeUpdate(Seq("v")))
    val expect = ((0L until 200L).map(k => (k, k * 2)).toMap ++
      srcRows.toMap).toSet
    assert(ts.read("t").as[(Long, Long)].collect().toSet == expect)
  }

  test("merge txn fence: zombie batch between fence read and CAS anchor is skipped, not doubled") {
    val root = Files.createTempDirectory("graft_mgfence").toString
    val w1 = new TableStore(spark, root)
    val w2 = new TableStore(spark, root)
    // batch 1 creates the table (fence cdc:1)
    assert(w1.merge("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "k",
      TableStore.MergeUpdate(Seq("v")), txn = Some("cdc" -> 1L)) == 0L)
    // w1 reads fence=1 and decides to apply batch 2; a zombie (w2)
    // commits the SAME batch before w1's CAS anchor. The anchor sees
    // the newer seq, so the sequence CAS alone would pass — the fence
    // re-validation must catch it and the retry must fence-skip.
    var fired = false
    w1.afterFenceRead = () => if (!fired) {
      fired = true
      assert(w2.merge("t", Seq((2L, -2L), (3L, 30L)).toDF("k", "v"),
        "k", TableStore.MergeUpdate(Seq("v")),
        txn = Some("cdc" -> 2L)) >= 0L)
    }
    val r = w1.merge("t", Seq((2L, -2L), (3L, 30L)).toDF("k", "v"), "k",
      TableStore.MergeUpdate(Seq("v")), txn = Some("cdc" -> 2L))
    w1.afterFenceRead = () => ()
    assert(fired)
    assert(r == -1L, "replayed batch must be fence-skipped")
    // batch 2 applied exactly once: key 3 inserted once, key 2 updated
    val got = w1.read("t").as[(Long, Long)].collect()
    assert(got.length == 3, s"duplicate insert: ${got.toSeq}")
    assert(got.toMap == Map(1L -> 10L, 2L -> -2L, 3L -> 30L))
    assert(w1.lastTxn("t", "cdc") == 2L)
  }
}
