package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** K2/K6/K7/K8 through the Hadoop FileSystem API, incl. the
  * partition-targeted rewrite contract: a keyed mutation on a
  * partitioned table may only move bytes in partitions that contain an
  * affected key.
  */
class TableStoreSpec extends SparkSpec with StoreCrashChecks {
  import spark.implicits._

  /** Live part-file names per partition dir (`day=d0` → names) — the
    * "was this partition rewritten" fingerprint: Spark part-file names
    * are unique per job, and the live set is exactly what a read scans.
    */
  private def partFiles(ts: TableStore, table: String): Map[String, Set[String]] =
    ts.read(table).inputFiles.toSeq.map(_.split('/').takeRight(2))
      .groupBy(_.head).map { case (d, fs) => d -> fs.map(_.last).toSet }

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_ts").toString)

  private def seedPartitioned(ts: TableStore, table: String): Unit =
    ts.append(table,
      spark.range(100)
        .select($"id", lit(0).as("flag"),
          concat(lit("d"), $"id" % 5).as("day")),
      partitionBy = Seq("day"))

  test("K7 partitioned updateFlag rewrites ONLY affected partition dirs") {
    val ts = freshStore()
    seedPartitioned(ts, "t")
    val before = partFiles(ts, "t")
    // ids 2,7 both live in day=d2 (id%5==2) — only that dir may change
    ts.updateFlag("t", Seq(2L, 7L).toDF("id"), Seq("id"), "flag", 1,
      partitionCols = Seq("day"))
    val after = partFiles(ts, "t")
    for (d <- Seq("day=d0", "day=d1", "day=d3", "day=d4"))
      assert(after(d) == before(d), s"$d was rewritten")
    assert(after("day=d2") != before("day=d2"), "day=d2 not rewritten")
    val rows = ts.read("t")
    assert(rows.count() == 100)
    assert(rows.filter($"flag" === 1).select($"id")
      .as[Long].collect().toSet == Set(2L, 7L))
  }

  test("K8 partitioned deleteByKeys removes an emptied partition dir") {
    val ts = freshStore()
    seedPartitioned(ts, "t")
    val before = partFiles(ts, "t")
    // delete ALL of day=d1 (ids ≡ 1 mod 5) plus one row of d3
    val doomed = ((0L until 100L).filter(_ % 5 == 1) :+ 3L).toDF("id")
    ts.deleteByKeys("t", doomed, Seq("id"), partitionCols = Seq("day"))
    val after = partFiles(ts, "t")
    assert(!after.contains("day=d1"), "emptied partition still listed")
    for (d <- Seq("day=d0", "day=d2", "day=d4"))
      assert(after(d) == before(d), s"$d was rewritten")
    assert(after("day=d3") != before("day=d3"))
    val rows = ts.read("t")
    assert(rows.count() == 79)
    assert(rows.filter($"day" === "d1").count() == 0)
    assert(rows.filter($"id" === 3L).count() == 0)
  }

  test("no-hit keyed mutation touches nothing") {
    val ts = freshStore()
    seedPartitioned(ts, "t")
    val before = partFiles(ts, "t")
    ts.updateFlag("t", Seq(1234L).toDF("id"), Seq("id"), "flag", 1,
      partitionCols = Seq("day"))
    assert(partFiles(ts, "t") == before)
  }

  test("unpartitioned rewrite/updateFlag via Hadoop FS still round-trips") {
    val ts = freshStore()
    ts.append("u", (1L to 10L).toDF("id").withColumn("flag", lit(0)))
    ts.updateFlag("u", Seq(4L).toDF("id"), Seq("id"), "flag", 9)
    assert(ts.read("u").filter($"flag" === 9).select($"id")
      .as[Long].collect().toSeq == Seq(4L))
    ts.deleteByKeys("u", Seq(5L, 6L).toDF("id"), Seq("id"))
    assert(ts.read("u").count() == 8)
    assert(ts.exists("u") && !ts.exists("nope"))
  }

  test("partition-targeted rewrite leaves no checkpoint/cached RDDs behind") {
    val ts = freshStore()
    seedPartitioned(ts, "t")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    ts.updateFlag("t", Seq(2L).toDF("id"), Seq("id"), "flag", 1,
      partitionCols = Seq("day"))
    val cachedAfter = spark.sparkContext.getPersistentRDDs.keySet
    // a localCheckpoint pivot would register a persistent RDD whose
    // blocks live in executor storage (not fault-tolerant at scale)
    assert((cachedAfter -- cachedBefore).isEmpty,
      s"rewriteAffected left cached RDDs: ${cachedAfter -- cachedBefore}")
    assert(ts.read("t").filter($"flag" === 1).select($"id")
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("mid-write failure leaves every partition intact (write-then-swap)") {
    val ts = freshStore()
    seedPartitioned(ts, "t")
    val before = partFiles(ts, "t")
    // transform that fails mid-job, after some tasks have written rows
    val boom = intercept[Exception] {
      ts.rewriteAffected("t", Seq("day"),
        hitParts = ts.read("t").select($"day").distinct(),
        transform = df => df.withColumn("flag",
          when($"id" === 42L,
            raise_error(lit("simulated executor loss")).cast("int"))
            .otherwise($"flag")))
    }
    assert(boom != null)
    // the failed job only ever wrote its own commit dir: the live
    // table's every partition still has its exact part-files
    assert(partFiles(ts, "t") == before)
    assert(ts.read("t").count() == 100)
    assert(ts.read("t").filter($"flag" =!= 0).count() == 0)
  }

  test("partitioned upsert appends under the partition layout") {
    val ts = freshStore()
    seedPartitioned(ts, "t")
    val inc = Seq((50L, 1, "d0"), (200L, 1, "d0"), (201L, 1, "d9"))
      .toDF("id", "flag", "day")
    ts.upsert("t", inc, keys = Seq("id"), tieBreak = Seq("day"),
      partitionBy = Seq("day"))
    val rows = ts.read("t")
    assert(rows.count() == 102) // 50 conflicts, 200/201 new
    assert(rows.filter($"day" === "d9").count() == 1)
  }

  test("compact merges multi-file partitions only; content unchanged") {
    val ts = freshStore()
    // seed with ONE file per partition (repartition by the partition
    // column), then two more appends hit only d0/d1
    ts.append("t",
      spark.range(100)
        .select($"id", lit(0).as("flag"),
          concat(lit("d"), $"id" % 5).as("day"))
        .repartition($"day"),
      partitionBy = Seq("day"))
    (1 to 2).foreach { i =>
      ts.append("t",
        spark.range(100L * i, 100L * i + 10)
          .select($"id", lit(0).as("flag"),
            concat(lit("d"), $"id" % 2).as("day"))
          .repartition($"day"),
        partitionBy = Seq("day"))
    }
    val before = partFiles(ts, "t")
    assert(before("day=d0").size == 3)
    assert(before("day=d2").size == 1) // only seeded once
    val rowsBefore = ts.read("t").orderBy($"id")
      .as[(Long, Int, String)].collect().toSeq

    ts.compact("t", partitionCols = Seq("day"))
    val after = partFiles(ts, "t")
    // multi-file partitions collapsed to one file each
    assert(after("day=d0").size == 1)
    assert(after("day=d1").size == 1)
    // single-file partitions never moved: exact same part-file names
    assert(after("day=d2") == before("day=d2"))
    assert(after("day=d3") == before("day=d3"))
    assert(after("day=d4") == before("day=d4"))
    // contents byte-identical
    assert(ts.read("t").orderBy($"id")
      .as[(Long, Int, String)].collect().toSeq == rowsBefore)
    // idempotent: a second compact is a no-op (no dirs move)
    ts.compact("t", partitionCols = Seq("day"))
    assert(partFiles(ts, "t") == after)
  }

  test("compact rewrites an unpartitioned table into targetFiles files") {
    val ts = freshStore()
    (0 until 4).foreach(i => ts.append("t",
      spark.range(10L * i, 10L * i + 10).toDF("id").repartition(3)))
    assert(ts.read("t").inputFiles.length >= 12)
    val before = ts.read("t").orderBy($"id").as[Long].collect().toSeq
    ts.compact("t", targetFiles = 2)
    assert(ts.read("t").inputFiles.length == 2)
    assert(ts.read("t").orderBy($"id").as[Long].collect().toSeq == before)
  }

  test("dedupAppend drops dups within a batch AND across batches") {
    val ts = freshStore()
    // doc 2 normalizes to doc 1's text (case/punct differences only)
    val batch1 = Seq((1L, "The quick brown fox"), (2L, "the QUICK brown fox!"),
      (3L, "something else entirely")).toDF("doc_id", "text")
    val kept1 = ts.dedupAppend("corpus", batch1, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(kept1 == Seq(1L, 3L)) // min-id survivor within the batch
    // doc 4 duplicates STORED doc 1; doc 5 is new
    val batch2 = Seq((4L, "the quick brown fox"), (5L, "fresh content here"))
      .toDF("doc_id", "text")
    val kept2 = ts.dedupAppend("corpus", batch2, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(kept2 == Seq(5L))
    assert(ts.read("corpus").select($"doc_id").as[Long].collect().toSeq.sorted
      == Seq(1L, 3L, 5L))
    // a batch already carrying 'fp' is rejected, never silently clobbered
    val clash = Seq((6L, "text", "caller-data")).toDF("doc_id", "text", "fp")
    intercept[IllegalArgumentException] {
      ts.dedupAppend("corpus", clash, "doc_id", "text")
    }
  }

  private def retainedStore(keep: Int) =
    new TableStore(spark, Files.createTempDirectory("graft_tt").toString,
      retainGenerations = keep)

  test("time travel: every retained generation reads back exactly") {
    val ts = retainedStore(10)
    def snap(): Set[(Long, String, Int)] = ts.read("t")
      .select($"id", $"day", $"flag").as[(Long, String, Int)]
      .collect().toSet
    def at(g: Long): Set[(Long, String, Int)] = ts.readAt("t", g)
      .select($"id", $"day", $"flag").as[(Long, String, Int)]
      .collect().toSet
    seedPartitioned(ts, "t") // gen 1 (append routes through rewrite)
    val g1 = snap()
    ts.append("t", Seq((100L, "d3", 0)).toDF("id", "day", "flag"),
      partitionBy = Seq("day")) // gen 2
    val g2 = snap()
    ts.updateFlag("t", Seq(2L, 100L).toDF("id"), Seq("id"), "flag", 7,
      partitionCols = Seq("day")) // gen 3: partition-targeted rewrite
    val g3 = snap()
    ts.deleteByKeys("t", Seq(1L).toDF("id"), Seq("id"),
      partitionCols = Seq("day")) // gen 4
    val g4 = snap()
    assert(ts.generations("t") == Seq(1L, 2L, 3L, 4L))
    assert(at(1) == g1 && at(2) == g2 && at(3) == g3 && at(4) == g4)
    assert(g1 != g2 && g2 != g3 && g3 != g4)
    // compaction (gen 5) must not change ANY generation's contents
    ts.compact("t", partitionCols = Seq("day"), maxFiles = 0)
    assert(at(1) == g1 && at(2) == g2 && at(3) == g3 && at(4) == g4)
    assert(snap() == g4)
  }

  test("time travel: vacuum drops old generations loudly, keeps the window") {
    val ts = retainedStore(10)
    seedPartitioned(ts, "t") // gen 1
    val g1 = ts.read("t").count()
    ts.deleteByKeys("t", Seq(1L).toDF("id"), Seq("id"),
      partitionCols = Seq("day")) // gen 2
    ts.updateFlag("t", Seq(2L).toDF("id"), Seq("id"), "flag", 9,
      partitionCols = Seq("day")) // gen 3
    assert(ts.readAt("t", 1).count() == g1)
    ts.vacuum("t", keepLast = 1)
    assert(ts.generations("t") == Seq(2L, 3L))
    val e = intercept[IllegalArgumentException](ts.readAt("t", 1))
    assert(e.getMessage.contains("not retained"))
    assert(ts.readAt("t", 2).count() == g1 - 1)
    // future generations are rejected, current delegates to read
    intercept[IllegalArgumentException](ts.readAt("t", 99))
    assert(ts.readAt("t", 3).count() == ts.read("t").count())
  }

  test("time travel: retention window auto-prunes; retention-off store rejects") {
    val ts = retainedStore(2)
    seedPartitioned(ts, "t") // gen 1
    for (g <- 2 to 5) // gens 2..5
      ts.updateFlag("t", Seq(0L).toDF("id"), Seq("id"), "flag", g,
        partitionCols = Seq("day"))
    // window of 2 behind gen 5: gens 3, 4 (+ live 5)
    assert(ts.generations("t") == Seq(3L, 4L, 5L))
    assert(ts.readAt("t", 3).filter($"id" === 0L)
      .select($"flag").as[Int].head() == 3)
    val off = freshStore()
    seedPartitioned(off, "t")
    off.updateFlag("t", Seq(0L).toDF("id"), Seq("id"), "flag", 1,
      partitionCols = Seq("day"))
    intercept[IllegalArgumentException](off.readAt("t", 1))
  }

  test("time travel: an emptied generation reads back as zero rows") {
    val ts = retainedStore(10)
    seedPartitioned(ts, "t") // gen 1
    ts.deleteByKeys("t", (0L until 100L).toDF("id"), Seq("id"),
      partitionCols = Seq("day")) // gen 2: empties the table
    ts.append("t", Seq((500L, "d0", 1)).toDF("id", "day", "flag"),
      partitionBy = Seq("day")) // gen 3 (snapshots empty gen 2)
    assert(ts.readAt("t", 2).count() == 0)
    assert(ts.readAt("t", 1).count() == 100)
    assert(ts.read("t").count() == 1)
  }

  test("time travel: append-only retention window still prunes snapshots") {
    val ts = retainedStore(2)
    seedPartitioned(ts, "t") // gen 1
    for (i <- 0 until 4) // gens 2..5, appends only
      ts.append("t", Seq((1000L + i, "d0", 0)).toDF("id", "day", "flag"),
        partitionBy = Seq("day"))
    assert(ts.generations("t") == Seq(3L, 4L, 5L))
  }

  test("append with a mismatched partition layout is rejected before commit") {
    val ts = freshStore()
    seedPartitioned(ts, "t")
    // flat append into the day-partitioned table would commit a mixed
    // layout that breaks partition discovery forever
    intercept[IllegalArgumentException] {
      ts.append("t", Seq((500L, 1, "d9")).toDF("id", "flag", "day"))
    }
    intercept[IllegalArgumentException] {
      ts.append("t", Seq((500L, 1, "d9")).toDF("id", "flag", "day"),
        partitionBy = Seq("flag"))
    }
    // the matching layout still appends
    ts.append("t", Seq((500L, 1, "d9")).toDF("id", "flag", "day"),
      partitionBy = Seq("day"))
    assert(ts.read("t").count() == 101)
  }

  /** No orphaned data files under the table and exactly one commit
    * manifest beside it — the no-leaks check for the
    * optimistic-concurrency cases (a loser deletes its own files).
    */
  private def assertNoLeaks(ts: TableStore, root: String,
                            table: String): Unit = {
    assert(unlisted(ts, root, table).isEmpty, "orphaned files")
    val names = new java.io.File(root).listFiles().map(_.getName).toSeq
    assert(names.count(_.startsWith(s"$table._graft_commit.")) == 1,
      s"manifest leak: $names")
  }

  test("OCC: interleaved upsert+upsert — exactly one winner per sequence, loser retries clean") {
    val root = Files.createTempDirectory("graft_occ").toString
    val w1 = new TableStore(spark, root)
    val w2 = new TableStore(spark, root)
    w1.rewrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // gen 1
    // w2 stages its batch, then w1 commits an OVERLAPPING upsert first:
    // w2's begin-commit CAS must lose, clean its staging, and retry
    // against w1's generation (key 3 now conflicts and is skipped)
    var fired = false
    w2.beforeBeginCommit = () => if (!fired) {
      fired = true
      w1.upsert("t", Seq((3L, "w1"), (4L, "w1")).toDF("k", "v"),
        Seq("k"), Seq("v")) // gen 2
    }
    w2.upsert("t", Seq((3L, "w2"), (5L, "w2")).toDF("k", "v"),
      Seq("k"), Seq("v")) // gen 3 on retry
    w2.beforeBeginCommit = () => ()
    assert(fired)
    // ON CONFLICT DO NOTHING serialized: w1 won key 3; w2's retry saw
    // it and inserted only its novel key
    assert(w1.read("t").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "w1", 4L -> "w1", 5L -> "w2"))
    // one generation per commit — the two upserts serialized as 2 and 3
    assert(w1.generations("t").last == 3)
    assertNoLeaks(w1, root, "t")
    // every data file on disk is referenced by the read (none orphaned
    // by the loser's aborted first attempt)
    def dataFilesOnDisk(d: java.io.File): Seq[String] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) dataFilesOnDisk(f)
        else if (f.getName.startsWith("part-")) Seq(f.getName) else Nil
      }
    val onDisk = dataFilesOnDisk(new java.io.File(s"$root/t")).sorted
    val scanned = w1.read("t").inputFiles.toSeq
      .map(_.split('/').last).sorted
    assert(onDisk == scanned, "orphaned data files in the table dir")
  }

  test("OCC: interleaved append vs rewrite serialize; appended rows survive a lost race") {
    val root = Files.createTempDirectory("graft_occ2").toString
    val w1 = new TableStore(spark, root)
    val w2 = new TableStore(spark, root)
    w1.rewrite("t", Seq((1L, "a")).toDF("k", "v")) // gen 1
    var fired = false
    w2.beforeBeginCommit = () => if (!fired) {
      fired = true
      w1.rewrite("t", Seq((10L, "rw")).toDF("k", "v")) // gen 2
    }
    w2.append("t", Seq((20L, "ap")).toDF("k", "v")) // gen 3 on retry
    w2.beforeBeginCommit = () => ()
    // the append retried ON TOP of the rewrite — not lost, not doubled
    assert(w1.read("t").as[(Long, String)].collect().toSet ==
      Set((10L, "rw"), (20L, "ap")))
    assert(w1.generations("t").last == 3)
    assertNoLeaks(w1, root, "t")
  }

  test("OCC: retries exhausted surfaces ConcurrentCommitException; staging cleaned") {
    val root = Files.createTempDirectory("graft_occ3").toString
    val w1 = new TableStore(spark, root)
    val w0 = new TableStore(spark, root, maxCommitRetries = 0)
    w1.rewrite("t", Seq((1L, "a")).toDF("k", "v"))
    // the competing commit fires on EVERY attempt — w0 (no retries)
    // must abort loudly instead of committing on stale inputs
    w0.beforeBeginCommit =
      () => w1.append("t", Seq((9L, "x")).toDF("k", "v"))
    val e = intercept[ConcurrentCommitException] {
      w0.append("t", Seq((7L, "y")).toDF("k", "v"))
    }
    w0.beforeBeginCommit = () => ()
    assert(e.table == "t")
    // the loser's batch is NOT in the table; the winner's is; no staging
    assert(w1.read("t").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (9L, "x")))
    assertNoLeaks(w1, root, "t")
  }

  test("readPinned: snapshot against concurrent appends; read sees them") {
    val root = Files.createTempDirectory("graft_pin").toString
    val w = new TableStore(spark, root)
    w.append("t", Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("k", "v", "day"),
      partitionBy = Seq("day"))
    val pinned = w.read("t")
    assert(pinned.as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "d1"), (2L, "b", "d2")))
    // a concurrent writer appends — the PINNED frame must not see it,
    // a fresh read must (partition values survive via basePath)
    new TableStore(spark, root).append("t",
      Seq((3L, "c", "d1")).toDF("k", "v", "day"), partitionBy = Seq("day"))
    assert(pinned.as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "d1"), (2L, "b", "d2")),
      "pinned snapshot leaked a concurrent append")
    assert(w.read("t").as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "d1"), (2L, "b", "d2"), (3L, "c", "d1")))
    // a new read picks up the appended generation
    assert(w.read("t").count() == 3)
  }

  test("compact(sortBy): files come back clustered; contents unchanged") {
    val ts = freshStore()
    // many small appends with interleaved keys -> unsorted small files
    (0 until 6).foreach { b =>
      ts.append("t", Seq((b * 2 + 17L) % 13, (b * 7 + 5L) % 13)
        .map(k => (k, s"v$k", s"d${k % 2}")).toDF("k", "v", "day"),
        partitionBy = Seq("day"))
    }
    val before = ts.read("t").as[(Long, String, String)].collect().toSet
    ts.compact("t", partitionCols = Seq("day"), sortBy = Seq("k"))
    assert(ts.read("t").as[(Long, String, String)].collect().toSet ==
      before, "compaction changed contents")
    // every file individually sorted on k (row-group stats monotone)
    val dir = ts.read("t").inputFiles.head
      .replaceFirst("file:", "").replaceFirst("/day=.*", "")
    new java.io.File(dir).listFiles().filter(_.getName.contains("="))
      .foreach { p =>
        p.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
          val ks = spark.read.parquet(f.getAbsolutePath)
            .select($"k").as[Long].collect().toSeq
          assert(ks == ks.sorted, s"${f.getName} not clustered: $ks")
        }
      }
    // unpartitioned path too
    val ts2 = freshStore()
    ts2.append("u", Seq(5L, 1L, 9L, 3L).map(k => (k, s"v$k"))
      .toDF("k", "v"))
    ts2.compact("u", targetFiles = 1, sortBy = Seq("k"))
    assert(ts2.read("u").inputFiles.forall { f =>
      val ks = spark.read.parquet(f.replaceFirst("file:", ""))
        .select($"k").as[Long].collect().toSeq
      ks == ks.sorted
    })
  }

  test("appendEvolve: widens schema; old rows read NULL; conflicts throw") {
    val root = Files.createTempDirectory("graft_evo").toString
    val ts = new TableStore(spark, root)
    ts.append("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // batch carries a NEW column -> widened; earlier rows read NULL
    ts.appendEvolve("t", Seq((3L, "c", 0.9)).toDF("k", "v", "score"))
    val rows = ts.read("t").select($"k", $"v", $"score")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(0.9))))
    // batch MISSING a table column -> typed NULL fill
    ts.appendEvolve("t", Seq((4L, 0.5)).toDF("k", "score"))
    assert(ts.read("t").filter($"k" === 4L)
      .select($"v", $"score").as[(Option[String], Option[Double])]
      .collect().toSeq == Seq((None, Some(0.5))))
    // a plain read sees every row post-evolution
    assert(ts.read("t").count() == 4)
    // type conflict: loud, nothing written
    val e = intercept[IllegalArgumentException] {
      ts.appendEvolve("t", Seq((5L, 7)).toDF("k", "score"))
    }
    assert(e.getMessage.contains("score"))
    assert(ts.read("t").count() == 4)
    // plain append of the ORIGINAL narrow schema still reads merged
    // (append aligns nothing — parquet merge resolves missing as NULL)
    ts.appendEvolve("t", Seq((6L, "f")).toDF("k", "v"))
    assert(ts.read("t").filter($"k" === 6L).select($"score")
      .as[Option[Double]].collect().toSeq == Seq(None))
  }

  test("legacy manifest: an evolved=true line still reads; the next commit drops it") {
    // manifests once flagged a widened table with an `evolved=true`
    // line after the fence lines; nothing reads the flag any more, so
    // the parser skips it like any key it does not know
    val root = Files.createTempDirectory("graft_evo_legacy").toString
    val ts = new TableStore(spark, root)
    ts.append("t", Seq((1L, "a")).toDF("k", "v"))
    ts.appendEvolve("t", Seq((2L, "b", 0.5)).toDF("k", "v", "score"))
    def manifest(seq: Long) = scala.io.Source.fromFile(
      s"$root/t._graft_commit.$seq").mkString.split("\n").toSeq
    val seq = ts.generations("t").last
    val current = manifest(seq)
    // the legacy head, written by hand: schema, files, then the flag
    val legacy = current.filter(_.startsWith("schema=")) ++
      current.filter(_.startsWith("f=")) :+ "evolved=true"
    Files.write(java.nio.file.Paths.get(root, s"t._graft_commit.${seq + 1}"),
      legacy.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(ts.generations("t").last == seq + 1)
    val read = ts.read("t")
    assert(read.columns.toSeq == Seq("k", "v", "score"))
    assert(read.select($"k", $"v", $"score")
      .as[(Long, String, Option[Double])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(0.5))))
    // the next commit builds on the legacy head and writes no flag
    ts.append("t", Seq((3L, "c", 0.7)).toDF("k", "v", "score"))
    assert(ts.generations("t").last == seq + 2)
    val next = manifest(seq + 2)
    assert(!next.exists(_.startsWith("evolved=")), next.mkString("\n"))
    assert(next.exists(_.startsWith("schema=")))
    assert(ts.read("t").select($"k", $"score")
      .as[(Long, Option[Double])].collect().toSet ==
      Set((1L, None), (2L, Some(0.5)), (3L, Some(0.7))))
  }

  test("appendExactlyOnce: fence skips replays; survives interleaved writers and crashes") {
    val root = Files.createTempDirectory("graft_eo").toString
    val ts = new TableStore(spark, root)
    def batch(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("k", "v")
    // batch 0 creates the table; replaying it is a no-op
    assert(ts.appendExactlyOnce("t", batch(1, 2), "sA", 0))
    assert(!ts.appendExactlyOnce("t", batch(1, 2), "sA", 0))
    assert(ts.lastTxn("t", "sA") == 0L)
    assert(ts.read("t").count() == 2)
    // the fence is PER STREAM: another stream's batch 0 still lands
    assert(ts.appendExactlyOnce("t", batch(10), "sB", 0))
    // a non-streaming writer's commits CARRY the fences forward
    ts.append("t", batch(20))
    new TableStore(spark, root).upsert("t", batch(21), Seq("k"), Seq("v"))
    assert(ts.lastTxn("t", "sA") == 0L && ts.lastTxn("t", "sB") == 0L)
    assert(!ts.appendExactlyOnce("t", batch(1, 2), "sA", 0),
      "interleaved commits re-opened the replay window")
    // batch 1 lands once; crash MID-APPEND of batch 2 leaves the fence
    // at 1, so the retried delivery of batch 2 appends exactly once
    assert(ts.appendExactlyOnce("t", batch(3), "sA", 1))
    ts.beforeBeginCommit = () => throw new IllegalStateException("crash")
    intercept[IllegalStateException] {
      ts.appendExactlyOnce("t", batch(4), "sA", 2)
    }
    ts.beforeBeginCommit = () => ()
    assert(ts.lastTxn("t", "sA") == 1L, "crashed batch advanced the fence")
    assert(ts.read("t").filter($"k" === 4L).count() == 0)
    assert(ts.appendExactlyOnce("t", batch(4), "sA", 2))
    assert(!ts.appendExactlyOnce("t", batch(4), "sA", 2))
    assert(ts.read("t").filter($"k" === 4L).count() == 1)
    assert(ts.read("t").count() == 7)
  }

  test("OCC: cleanStaging drops pre-CAS orphans, never the manifest-recorded staging") {
    val root = Files.createTempDirectory("graft_occ5").toString
    val ts = new TableStore(spark, root)
    ts.append("t", Seq((1L, "a")).toDF("k", "v"))
    ts.append("t", Seq((2L, "b")).toDF("k", "v"))
    // fabricate an orphan commit dir (a writer died before its CAS)
    val orphan = new java.io.File(root, "t/deadbeef00000000")
    orphan.mkdirs()
    new java.io.File(orphan, "part-orphan.parquet").createNewFile()
    // and a real writer that dies between its data-file write and CAS
    ts.beforeBeginCommit = () => throw new IllegalStateException("crash")
    intercept[IllegalStateException] {
      ts.append("t", Seq((3L, "c")).toDF("k", "v"))
    }
    ts.beforeBeginCommit = () => ()
    assert(unlisted(ts, root, "t").size >= 2)
    val live = ts.read("t").inputFiles.toSet
    ts.cleanStaging("t")
    // every orphan is gone; every file the manifest lists survives
    assert(!orphan.exists(), "orphan survived")
    assert(unlisted(ts, root, "t").isEmpty)
    assert(ts.read("t").inputFiles.toSet == live)
    assert(ts.read("t").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    ts.append("t", Seq((3L, "c")).toDF("k", "v"))
    assertNoLeaks(ts, root, "t")
  }

  test("append layout guard: partitioned batch into a FLAT non-empty table rejects") {
    val ts = freshStore()
    // flat table WITH committed files — its layout is Nil, which is
    // NOT a waiver: a partitioned batch would commit partition dirs
    // next to root data files (broken partition discovery, not
    // auto-recoverable)
    ts.append("t", Seq((1L, "a", "d0")).toDF("k", "v", "day"))
    val e = intercept[IllegalArgumentException] {
      ts.append("t", Seq((2L, "b", "d1")).toDF("k", "v", "day"),
        partitionBy = Seq("day"))
    }
    assert(e.getMessage.contains("layouts must match"))
    // nothing committed, table still reads flat
    assert(ts.read("t").count() == 1)
    assert(ts.read("t").inputFiles.forall(!_.contains("day=")))
    // the reverse directions stay rejected too
    val ts2 = freshStore()
    seedPartitioned(ts2, "p")
    intercept[IllegalArgumentException] {
      ts2.append("p", Seq((1L, 0, "d9")).toDF("id", "flag", "day"))
    }
  }

  test("exactly-once fence: zombie commit between fence read and CAS anchor cannot double the batch") {
    val root = Files.createTempDirectory("graft_fence").toString
    val w1 = new TableStore(spark, root)
    val w2 = new TableStore(spark, root)
    w1.append("t", Seq((1L, "seed")).toDF("k", "v"))
    assert(w1.appendExactlyOnce("t", Seq((2L, "b5")).toDF("k", "v"),
      "s", 5L))
    // the TOCTOU window: w1 reads fence=5 and decides to append batch
    // 6; a zombie (w2, the pre-crash incarnation's in-flight write)
    // commits the SAME batch before w1 reaches its CAS anchor. The
    // anchor sees the newer head, so the seq CAS alone would pass —
    // only the fence re-validation catches the replay.
    var fired = false
    w1.afterFenceRead = () => if (!fired) {
      fired = true
      assert(w2.appendExactlyOnce("t", Seq((3L, "b6")).toDF("k", "v"),
        "s", 6L))
    }
    val appended = w1.appendExactlyOnce("t",
      Seq((3L, "b6")).toDF("k", "v"), "s", 6L)
    w1.afterFenceRead = () => ()
    assert(fired)
    assert(!appended, "replayed batch must be fence-skipped")
    // batch 6 landed EXACTLY once
    assert(w1.read("t").count() == 3)
    assert(w1.lastTxn("t", "s") == 6L)
    assertNoLeaks(w1, root, "t")
  }

  test("column order stays uniform across files: reordered appends and key deletes") {
    val ts = freshStore()
    // table whose KEY is not the first column — the antiDelete find
    ts.append("t", Seq(("a", 1L, 10L), ("b", 2L, 20L), ("c", 3L, 30L))
      .toDF("tag", "k", "v"))
    // 1. deleteByKeys must NOT persist the join's key-first order
    ts.deleteByKeys("t", Seq(2L).toDF("k"), Seq("k"))
    assert(ts.read("t").columns.toSeq == Seq("tag", "k", "v"))
    // 2. an append with the same columns in a DIFFERENT order is
    //    normalized to the committed order before it writes
    ts.append("t", Seq((4L, 40L, "d")).toDF("k", "v", "tag"))
    val files = ts.read("t").inputFiles
    assert(files.length >= 2)
    files.foreach { f =>
      val cols = spark.read.parquet(f).columns.toSeq
      assert(cols == Seq("tag", "k", "v"), s"$f has $cols")
    }
    // positional consumers see one stable order regardless of which
    // footer gets sampled
    assert(ts.read("t").as[(String, Long, Long)].collect().toSet ==
      Set(("a", 1L, 10L), ("c", 3L, 30L), ("d", 4L, 40L)))
  }

  test("append/rewrite return THIS commit's generation; readAt(pin) reproduces it") {
    // retention on: the returned generation is exercised as a
    // time-travel pin below
    val ts = new TableStore(spark,
      Files.createTempDirectory("graft_ts").toString,
      retainGenerations = 10)
    // first-time append routes through the fresh-table rewrite fence
    val g1 = ts.append("g", spark.range(5).toDF("id"))
    assert(g1 == ts.generations("g").last)
    val g2 = ts.append("g", spark.range(5, 10).toDF("id"))
    assert(g2 == g1 + 1 && g2 == ts.generations("g").last)
    // a batch that commits nothing returns the CURRENT generation
    // (whose content the no-op batch trivially reflects)
    val gE = ts.append("g", spark.range(0).toDF("id"))
    assert(gE == ts.generations("g").last)
    val g3 = ts.rewrite("g", spark.range(100, 103).toDF("id"))
    assert(g3 == ts.generations("g").last)
    // the returned value is the caller's reproducibility anchor: later
    // commits must not disturb what the pinned generation re-reads —
    // the race the old post-commit generations().last read had
    ts.append("g", spark.range(200, 210).toDF("id"))
    assert(ts.readAt("g", g3).as[Long].collect().toSet ==
      Set(100L, 101L, 102L))
    assert(ts.readAt("g", g2).as[Long].collect().toSet ==
      (0L until 10L).toSet)
  }

  test("named tags: human handles on pinned generations") {
    val ts = retainedStore(10)
    ts.append("t", spark.range(0, 5).toDF("id"))
    val g1 = ts.tag("t", "v1")
    ts.append("t", spark.range(5, 10).toDF("id"))
    val g2 = ts.tag("t", "v2")
    // v1 still reads the first five rows after the append
    assert(ts.readTag("t", "v1").as[Long].collect().toSet ==
      (0L until 5L).toSet)
    assert(ts.readTag("t", "v2").as[Long].collect().toSet ==
      (0L until 10L).toSet)
    assert(ts.tags("t") == Map("v1" -> g1, "v2" -> g2))
    // re-tag moves the name; drop removes only the name
    ts.tag("t", "v1", Some(g2))
    assert(ts.readTag("t", "v1").count() == 10L)
    ts.dropTag("t", "v1")
    assert(ts.tagGeneration("t", "v1").isEmpty)
    assert(ts.readAt("t", g1).count() == 5L) // generation untouched
    // explicit past-generation tagging works through retention
    ts.tag("t", "first", Some(g1))
    assert(ts.readTag("t", "first").count() == 5L)
    // guards are loud
    intercept[IllegalArgumentException] { ts.readTag("t", "nope") }
    intercept[IllegalArgumentException] { ts.tag("t", "bad.name") }
    intercept[IllegalArgumentException] { ts.tag("t", "") }
    intercept[IllegalArgumentException] {
      ts.tag("t", "future", Some(g2 + 50))
    }
    // unretained store: tagging a vacuumed generation fails loudly
    val bare = freshStore()
    bare.append("u", spark.range(0, 3).toDF("id"))
    val h1 = bare.tags("u") // no tags yet
    assert(h1.isEmpty)
    bare.append("u", spark.range(3, 6).toDF("id"))
    val old = bare.generations("u").head
    if (old < bare.generations("u").last)
      intercept[IllegalArgumentException] {
        bare.tag("u", "gone", Some(old))
      }
  }

  /** Two generations, every partition multi-file (compact has work). */
  private def seedCrashTable(ts: TableStore): Unit = {
    seedPartitioned(ts, "t")
    ts.append("t", spark.range(100, 120)
      .select($"id", lit(0).as("flag"), concat(lit("d"), $"id" % 5).as("day")),
      partitionBy = Seq("day"))
  }

  private def flagged(ts: TableStore, table: String, flag: Int): Set[Long] =
    ts.read(table).filter($"flag" === flag).select($"id").as[Long]
      .collect().toSet

  test("crash between the two renames of a full rewrite reads wholly-old") {
    // an unpartitioned updateFlag rewrites the whole table
    val u = crashBeforeCas("u",
      _.append("u", (1L to 10L).toDF("id").withColumn("flag", lit(0))))(
      _.updateFlag("u", Seq(4L).toDF("id"), Seq("id"), "flag", 9),
      ts => assert(flagged(ts, "u", 9).isEmpty))
    assert(flagged(u, "u", 9) == Set(4L))
    assert(u.read("u").count() == 10)
    // and so does rewrite, here onto a different partition set
    val t = crashBeforeCas("t", seedPartitioned(_, "t"))(
      _.rewrite("t", spark.range(400, 420).select($"id", lit(1).as("flag"),
        concat(lit("d"), $"id" % 2).as("day")), partitionBy = Seq("day")))
    assert(t.read("t").select($"id").as[Long].collect().toSet ==
      (400L until 420L).toSet)
  }

  test("crash after a FIRST-TIME rewrite renames in commits nothing") {
    val root = Files.createTempDirectory("graft_first").toString
    val ts = new TableStore(spark, root)
    val df = (1L to 5L).toDF("id")
    ts.beforeBeginCommit =
      () => throw new IllegalStateException("injected crash before commit")
    intercept[IllegalStateException] { ts.rewrite("v", df) }
    ts.beforeBeginCommit = () => ()
    // the committed generation is "no table" even though the crashed
    // writer's data files survive on disk
    assert(!ts.exists("v"), "uncommitted first-time rewrite visible")
    intercept[IllegalArgumentException] { ts.read("v") }
    assert(ts.generations("v").isEmpty)
    assert(unlisted(ts, root, "v").nonEmpty, "no data files were written")
    // the retried rewrite lands as the first generation
    ts.rewrite("v", df)
    assert(ts.exists("v"))
    assert(ts.read("v").as[Long].collect().toSet == (1L to 5L).toSet)
    assert(ts.generations("v") == Seq(1L))
    // the stranded files are orphans: cleanStaging drops them all
    ts.cleanStaging("v")
    assert(unlisted(ts, root, "v").isEmpty)
    assert(ts.read("v").count() == 5)
  }

  test("crash mid multi-partition swap reads wholly-old, never mixed") {
    // the flag flip hits d1 AND d3
    val ts = crashBeforeCas("t", seedPartitioned(_, "t"))(
      _.updateFlag("t", Seq(1L, 3L).toDF("id"), Seq("id"), "flag", 1,
        partitionCols = Seq("day")),
      crashed => assert(flagged(crashed, "t", 1).isEmpty,
        "mixed-generation read"))
    assert(ts.read("t").count() == 100)
    assert(flagged(ts, "t", 1) == Set(1L, 3L))
  }

  test("crash after a brand-new partition dir swaps in reads wholly-old") {
    // table partitioned BY the flag column: flipping every row writes a
    // brand-new flag=1 partition and empties flag=0
    val ts = crashBeforeCas("t", _.append("t",
      spark.range(10).select($"id", lit(0).as("flag")),
      partitionBy = Seq("flag")))(
      _.updateFlag("t", (0L until 10L).toDF("id"), Seq("id"), "flag", 1,
        partitionCols = Seq("flag")),
      crashed => {
        // the new partition's files hold only uncommitted rows; a read
        // must exclude them or every row comes back twice
        assert(crashed.read("t").count() == 10,
          "uncommitted fresh partition leaked")
        assert(flagged(crashed, "t", 1).isEmpty, "mixed-generation read")
      })
    assert(ts.read("t").count() == 10, "duplicates after the retry")
    assert(flagged(ts, "t", 1) == (0L until 10L).toSet)
  }

  test("crash mid-append leaves the batch invisible; retry lands once") {
    val ts = crashBeforeCas("t", seedPartitioned(_, "t"))( // 100 rows
      _.append("t", spark.range(200, 240).select($"id", lit(0).as("flag"),
        concat(lit("d"), $"id" % 5).as("day")), partitionBy = Seq("day")),
      crashed => assert(crashed.read("t").filter($"id" >= 200).count() == 0,
        "partial append leaked into a read"))
    val after = ts.read("t")
    assert(after.count() == 140, "duplicates or losses after the retry")
    assert(after.select($"id").distinct().count() == 140)
  }

  test("crash while removing an emptied partition restores it on recovery") {
    // delete all of d1 (plus one row of d3): d1 leaves the live list
    val doomed = ((0L until 100L).filter(_ % 5 == 1) :+ 3L).toDF("id")
    val ts = crashBeforeCas("t", seedPartitioned(_, "t"))(
      _.deleteByKeys("t", doomed, Seq("id"), partitionCols = Seq("day")),
      crashed => {
        // wholly-old: the emptied partition is still visible, also
        // after an unrelated no-op mutation
        crashed.updateFlag("t", Seq(9999L).toDF("id"), Seq("id"), "flag", 1,
          partitionCols = Seq("day"))
        assert(crashed.read("t").filter($"day" === "d1").count() == 20)
      })
    assert(ts.read("t").count() == 79)
    assert(ts.read("t").filter($"day" === "d1").count() == 0)
  }

  /** One row per mutation that writes data files before its commit. */
  private val crashCases: Seq[(String, TableStore => Any)] = Seq(
    "append" -> (_.append("t", spark.range(200, 210).select($"id",
      lit(0).as("flag"), concat(lit("d"), $"id" % 5).as("day")),
      partitionBy = Seq("day"))),
    "upsert" -> (_.upsert("t",
      Seq((5L, 9, "d0"), (300L, 9, "d0")).toDF("id", "flag", "day"),
      Seq("id"), Seq("flag"), partitionBy = Seq("day"))),
    "rewrite" -> (_.rewrite("t", spark.range(400, 420).select($"id",
      lit(1).as("flag"), concat(lit("d"), $"id" % 2).as("day")),
      partitionBy = Seq("day"))),
    "updateFlag (partitioned)" -> (_.updateFlag("t",
      Seq(2L, 7L).toDF("id"), Seq("id"), "flag", 1,
      partitionCols = Seq("day"))),
    "deleteByKeys (partitioned, empties a partition)" -> (_.deleteByKeys("t",
      ((0L until 120L).filter(_ % 5 == 1) :+ 3L).toDF("id"), Seq("id"),
      partitionCols = Seq("day"))),
    "deleteWhere" -> (_.deleteWhere("t", $"id" < 10)),
    "merge" -> (_.merge("t",
      Seq((3L, 7, "d3"), (500L, 7, "d0")).toDF("id", "flag", "day"), "id",
      TableStore.MergeUpdate(Seq("flag")))),
    "compact" -> (_.compact("t", partitionCols = Seq("day"))),
    "appendExactlyOnce" -> (_.appendExactlyOnce("t",
      Seq((600L, 0, "d1")).toDF("id", "flag", "day"), "s", 0,
      partitionBy = Seq("day"))))

  test("crash between data-file write and manifest CAS") {
    for ((name, op) <- crashCases) withClue(s"[$name] ") {
      crashBeforeCas("t", seedCrashTable)(op)
    }
  }

  test("time travel: a crash mid-swap neither corrupts past generations nor leaks") {
    val root = Files.createTempDirectory("graft_tt").toString
    val ts = new TableStore(spark, root, retainGenerations = 10)
    seedPartitioned(ts, "t") // gen 1
    val g1 = ts.readAt("t", 1).count()
    ts.deleteByKeys("t", Seq(1L).toDF("id"), Seq("id"),
      partitionCols = Seq("day")) // gen 2
    ts.beforeBeginCommit = () => throw new IllegalStateException("crash")
    intercept[IllegalStateException] {
      ts.updateFlag("t", Seq(2L).toDF("id"), Seq("id"), "flag", 5,
        partitionCols = Seq("day"))
    }
    ts.beforeBeginCommit = () => ()
    // mid-crash: past generations still resolve
    assert(ts.generations("t") == Seq(1L, 2L))
    assert(ts.readAt("t", 1).count() == g1)
    assert(ts.readAt("t", 2).count() == g1 - 1)
    // the retried mutation completes and history is intact
    ts.updateFlag("t", Seq(2L).toDF("id"), Seq("id"), "flag", 5,
      partitionCols = Seq("day")) // gen 3
    assert(ts.generations("t") == Seq(1L, 2L, 3L))
    assert(ts.readAt("t", 1).count() == g1)
    assert(ts.readAt("t", 2).count() == g1 - 1)
    assert(ts.read("t").filter($"flag" === 5).count() == 1)
    // no leak: vacuum drops the dead writer's files and keeps history
    ts.vacuum("t", keepLast = 10)
    assert(unlisted(ts, root, "t").isEmpty)
    assert(ts.readAt("t", 1).count() == g1)
  }

  test("OCC: crash between begin-commit CAS and first rename recovers; staging cleared") {
    val root = Files.createTempDirectory("graft_occ4").toString
    val ts = new TableStore(spark, root)
    ts.append("t", Seq((1L, "a")).toDF("k", "v"))
    ts.beforeBeginCommit = () => throw new IllegalStateException("crash")
    intercept[IllegalStateException] {
      ts.append("t", Seq((2L, "b")).toDF("k", "v"))
    }
    ts.beforeBeginCommit = () => ()
    // the dead commit claimed nothing: batch invisible, head unchanged
    assert(ts.generations("t") == Seq(1L))
    assert(ts.read("t").count() == 1)
    assert(unlisted(ts, root, "t").nonEmpty)
    // the next mutation lands exactly once on top of it
    ts.append("t", Seq((3L, "c")).toDF("k", "v"))
    assert(ts.read("t").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (3L, "c")))
    // and the dead writer's staging is cleared without touching it
    ts.cleanStaging("t")
    assertNoLeaks(ts, root, "t")
    assert(ts.read("t").count() == 2)
  }

  test("partitioned updateFlag ON the partition column keeps the target partition's rows") {
    val ts = freshStore()
    ts.append("t", spark.range(15).select($"id",
      when($"id" >= 10, 1).otherwise(0).as("flag")), partitionBy = Seq("flag"))
    // rows 0 and 1 move from flag=0 into the existing flag=1 partition
    ts.updateFlag("t", Seq(0L, 1L).toDF("id"), Seq("id"), "flag", 1,
      partitionCols = Seq("flag"))
    val got = ts.read("t").select($"id", $"flag").as[(Long, Int)].collect()
    assert(got.length == 15)
    assert(got.filter(_._2 == 1).map(_._1).toSet ==
      Set(0L, 1L, 10L, 11L, 12L, 13L, 14L))
  }

  test("reads resolve through the manifest: directory-read schema, one scan, no listing") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    val root = Files.createTempDirectory("graft_scan").toString
    val ts = new TableStore(spark, root)
    val df = spark.range(60).select($"id",
      ($"id" % 3).as("n"), // a long written as n=0..2 reads back as INT
      concat(lit("d"), $"id" % 2).as("day"),
      struct($"id".as("a"), lit("x").as("b")).as("s"),
      array($"id").as("arr"), ($"id" * 1.5).as("x"))
    ts.append("t", df.repartition(7), partitionBy = Seq("n", "day"))
    // the first commit records the schema a directory read of the same
    // files infers: data columns nullable, partition types from names
    val dir = new java.io.File(root, "t").listFiles().filter(_.isDirectory).head
    val dirSchema = spark.read.parquet(dir.getPath).schema
    assert(ts.read("t").schema == dirSchema)
    assert(dirSchema("n").dataType == org.apache.spark.sql.types.IntegerType)
    // more commits, more than 32 files: still ONE partitioned scan
    ts.append("t", df.filter($"id" < 30).repartition(6),
      partitionBy = Seq("n", "day"))
    ts.append("t", df.filter($"id" >= 30).repartition(6),
      partitionBy = Seq("n", "day"))
    val t = ts.read("t")
    assert(t.inputFiles.length > 32)
    assert(t.schema == dirSchema)
    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val listingJobs = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    val pruned = ts.read("t").filter($"n" === 1 && $"day" === "d0")
    val scanExec = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    // the one leaf dir per commit that holds n=1/day=d0, nothing else
    assert(scanExec.selectedPartitions.partitionCount == 3)
    assert(scanExec.selectedPartitions.filePartitionIterator
      .forall(_.values.getInt(0) == 1))
    assert(pruned.count() == 20)
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount == discovered,
      "a manifest read listed files")
    assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount ==
      listingJobs)
    // the counter does see a directory read
    spark.read.parquet(dir.getPath).count()
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount > discovered)
    assert(ts.read("t").count() == 120)
  }
}
