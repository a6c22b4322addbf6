package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental aggregate maintenance: `refreshRollup` must equal the
  * full recompute after ANY append sequence while folding only the new
  * files, survive crash-shaped interleavings because the fence and the
  * folded-file list advance in one manifest commit, and rebuild
  * loudly-but-correctly when the source is compacted (file identity
  * broken).
  */
class RollupSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_ru").toString)

  private val aggs = Seq(
    ("n", "count", ""), ("total", "sum", "v"),
    ("lo", "min", "v"), ("hi", "max", "s"))

  private def direct(ts: TableStore) = ts.read("src")
    .groupBy("g").agg(count(lit(1)).as("n"), sum($"v").as("total"),
      min($"v").as("lo"), max($"s").as("hi"))

  private def batch(from: Int, until: Int) =
    (from until until).map(i => (s"g${i % 3}", i.toLong, s"s$i"))
      .toDF("g", "v", "s")

  private def assertEqual(ts: TableStore): Unit = {
    val got = ts.read("rollup").as[(String, Long, Long, Long, String)]
      .collect().toSet
    val want = direct(ts).as[(String, Long, Long, Long, String)]
      .collect().toSet
    assert(got == want)
  }

  test("refreshRollup equals full recompute across appends; folds only new files") {
    val ts = freshStore()
    ts.append("src", batch(0, 50))
    val first = ts.refreshRollup("src", "rollup", Seq("g"), aggs)
    assert(first >= 1)
    assertEqual(ts)
    // second batch: only ITS files fold
    ts.append("src", batch(50, 90))
    val totalFiles = ts.read("src").inputFiles.length
    val second = ts.refreshRollup("src", "rollup", Seq("g"), aggs)
    assert(second >= 1 && second < totalFiles,
      s"folded $second of $totalFiles — should be the new batch only")
    assertEqual(ts)
    // no-change refresh is a no-op: zero folded, rollup files untouched
    val before = ts.read("rollup").inputFiles.toSet
    assert(ts.refreshRollup("src", "rollup", Seq("g"), aggs) == 0L)
    assert(ts.read("rollup").inputFiles.toSet == before)
  }

  test("source compaction breaks file identity: full rebuild, still exact") {
    val ts = freshStore()
    ts.append("src", batch(0, 40))
    ts.refreshRollup("src", "rollup", Seq("g"), aggs)
    ts.append("src", batch(40, 60))
    ts.refreshRollup("src", "rollup", Seq("g"), aggs)
    ts.compact("src", targetFiles = 2) // all file names change
    val folded = ts.refreshRollup("src", "rollup", Seq("g"), aggs)
    assert(folded == ts.read("src").inputFiles.length.toLong) // rebuild
    assertEqual(ts)
    // and incremental service resumes after the rebuild
    ts.append("src", batch(60, 75))
    val next = ts.refreshRollup("src", "rollup", Seq("g"), aggs)
    assert(next >= 1 && next < ts.read("src").inputFiles.length)
    assertEqual(ts)
  }

  test("crash between sidecar write and rollup commit cannot double-fold") {
    val ts = freshStore()
    ts.append("src", batch(0, 30))
    ts.refreshRollup("src", "rollup", Seq("g"), aggs)
    val foldedBefore = ts.read("src").inputFiles.toSet
    ts.append("src", batch(30, 45))
    val delta = (ts.read("src").inputFiles.toSet -- foldedBefore).size
    val gen = ts.generations("rollup").last
    // the refresh dies after writing its new rollup files, just before
    // the CAS that would advance the fence and the folded-file list
    ts.beforeBeginCommit =
      () => throw new IllegalStateException("injected crash before commit")
    intercept[IllegalStateException](
      ts.refreshRollup("src", "rollup", Seq("g"), aggs))
    ts.beforeBeginCommit = () => ()
    assert(ts.generations("rollup").last == gen)
    // the next refresh folds the true delta exactly once, incrementally
    assert(ts.refreshRollup("src", "rollup", Seq("g"), aggs) == delta)
    assertEqual(ts)
    assert(ts.refreshRollup("src", "rollup", Seq("g"), aggs) == 0L)
    assertEqual(ts)
  }

  test("decimal sums stay exact across refreshes (stable widened type)") {
    val ts = freshStore()
    ts.append("src", Seq(("a", BigDecimal("1.25")), ("a", BigDecimal("2.50")),
      ("b", BigDecimal("0.75"))).toDF("g", "v"))
    ts.refreshRollup("src", "rollup", Seq("g"),
      Seq(("total", "sum", "v"), ("n", "count", "")))
    ts.append("src", Seq(("b", BigDecimal("4.00"))).toDF("g", "v"))
    ts.refreshRollup("src", "rollup", Seq("g"),
      Seq(("total", "sum", "v"), ("n", "count", "")))
    val got = ts.read("rollup")
      .select($"g", $"total".cast("string").as("t"), $"n")
      .as[(String, String, Long)].collect()
      .map { case (g, t, n) => g -> ((BigDecimal(t), n)) }.toMap
    assert(got == Map(
      "a" -> ((BigDecimal("3.75"), 2L)),
      "b" -> ((BigDecimal("4.75"), 2L))))
  }

  test("concurrent refresh landing AFTER the fence read cannot double-fold") {
    val root = Files.createTempDirectory("graft_rucc").toString
    val a = new TableStore(spark, root)
    val b = new TableStore(spark, root)
    a.append("src", batch(0, 30))
    a.refreshRollup("src", "rollup", Seq("g"), aggs)
    a.append("src", batch(30, 45))
    // the double-fold window: a reads fence n and derives its delta; b
    // runs a FULL competing refresh (folding the same delta, fence →
    // n+1) before a reaches its commit. Without the anchored fence
    // re-validation a's by-name `combined` would re-read the rollup b
    // just wrote and fold the delta AGAIN under the same fence value.
    var fired = false
    a.afterFenceRead = () => if (!fired) {
      fired = true
      assert(b.refreshRollup("src", "rollup", Seq("g"), aggs) >= 1)
    }
    val folded = a.refreshRollup("src", "rollup", Seq("g"), aggs)
    a.afterFenceRead = () => ()
    assert(fired)
    assert(folded == 0L, "loser's retry must see b's fold and no-op")
    assertEqual(a)
    // the protocol keeps serving exactly afterwards
    a.append("src", batch(45, 60))
    assert(a.refreshRollup("src", "rollup", Seq("g"), aggs) >= 1)
    assertEqual(a)
  }

  test("concurrent refresh landing AFTER the CAS anchor cannot double-fold or clobber the sidecar") {
    val root = Files.createTempDirectory("graft_rucc2").toString
    val a = new TableStore(spark, root)
    val b = new TableStore(spark, root)
    a.append("src", batch(0, 30))
    a.refreshRollup("src", "rollup", Seq("g"), aggs)
    a.append("src", batch(30, 45))
    // here the competing refresh lands after a's anchor but before its
    // commit CAS: a loses the SEQUENCE race instead of the fence check
    // — and, because the folded-file list rides the same commit as the
    // fence, a's aborted attempt can never clobber the list b
    // committed.
    var fired = false
    a.beforeBeginCommit = () => if (!fired) {
      fired = true
      assert(b.refreshRollup("src", "rollup", Seq("g"), aggs) >= 1)
    }
    val folded = a.refreshRollup("src", "rollup", Seq("g"), aggs)
    a.beforeBeginCommit = () => ()
    assert(fired)
    assert(folded == 0L, "loser's retry must see b's fold and no-op")
    assertEqual(a)
    // the folded-file list must pair with b's commit: a further
    // incremental refresh folds ONLY the genuinely new files (a
    // clobbered list would force a rebuild or double-fold here)
    a.append("src", batch(45, 60))
    val next = a.refreshRollup("src", "rollup", Seq("g"), aggs)
    assert(next >= 1 && next < a.read("src").inputFiles.length,
      s"folded $next — folded-file list lost incremental identity")
    assertEqual(a)
  }
}
