package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private val C = 100L

  // 3 shards, deterministic doc sizes; id 999 is a NULL-count row and
  // id 998 a zero-count row — both must vanish from the placement
  private def fixture = {
    val rows = (0 until 120).map { i =>
      (i.toLong, (i % 3).toLong, Some(((i * 37) % 190 + 1).toLong))
    } :+ ((998L, 1L, Some(0L))) :+ ((999L, 2L, Option.empty[Long]))
    rows.toDF("id", "shard", "n")
  }

  private def packed = Packing.packConcat(fixture, "id", "n", "shard", C)

  test("fold twin: placement matches a sequential reference packer") {
    val docs = fixture.filter($"n" > 0)
      .select($"id", $"shard", $"n").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._2, r._1))
    val expect = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    docs.groupBy(_._2).foreach { case (shard, ds) =>
      var pos = 0L
      ds.sortBy(_._1).foreach { case (id, _, n) =>
        var off = 0L
        while (off < n) {
          val blk = (pos + off) / C
          val len = math.min(n - off, (blk + 1) * C - (pos + off))
          expect += ((shard, blk, id, off, (pos + off) - blk * C, len))
          off += len
        }
        pos += n
      }
    }
    val got = packed
      .select($"shard", $"block_id", $"id", $"doc_off", $"block_off",
        $"len")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expect.toSet, "placement diverged from reference fold")
  }

  test("blocks tile exactly: every non-last block is full, slices abut") {
    val perBlock = packed.groupBy($"shard", $"block_id")
      .agg(sum($"len").as("fill"),
        min($"block_off").as("lo"),
        max($"block_off" + $"len").as("hi"))
      .collect()
    val lastBlk = packed.groupBy($"shard")
      .agg(max($"block_id").as("last")).as[(Long, Long)]
      .collect().toMap
    perBlock.foreach { r =>
      val (shard, blk) = (r.getLong(0), r.getLong(1))
      val (fill, lo, hi) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lo == 0L && hi == fill,
        s"block ($shard,$blk) has offset gap: lo=$lo hi=$hi fill=$fill")
      if (blk != lastBlk(shard))
        assert(fill == C, s"non-last block ($shard,$blk) fill=$fill")
      else assert(fill <= C, s"block ($shard,$blk) overfull: $fill")
    }
    // block ids are dense from 0 in each shard
    val ids = packed.select($"shard", $"block_id").distinct()
      .as[(Long, Long)].collect().groupBy(_._1)
    ids.foreach { case (shard, bs) =>
      val sorted = bs.map(_._2).sorted
      assert(sorted.head == 0L &&
        sorted.last == sorted.length - 1L,
        s"shard $shard block ids not dense: ${sorted.mkString(",")}")
    }
  }

  test("per-document slices are contiguous, complete, and start at 0") {
    val perDoc = packed.groupBy($"id")
      .agg(sum($"len").as("tot"), min($"doc_off").as("lo"),
        count(lit(1)).as("slices"), max($"doc_off" + $"len").as("hi"))
      .join(fixture.filter($"n" > 0), "id")
    val bad = perDoc.filter($"tot" =!= $"n" || $"lo" =!= 0L ||
      $"hi" =!= $"n")
    assert(bad.isEmpty, "a document lost or duplicated tokens")
    // zero/NULL-count rows are absent
    assert(packed.filter($"id" >= 998L).isEmpty)
  }

  test("deterministic under repartitioning") {
    val a = packed.collect().toSet
    val b = Packing
      .packConcat(fixture.repartition(7, $"n"), "id", "n", "shard", C)
      .collect().toSet
    assert(a == b, "placement depends on input partitioning")
  }

  test("plan: ONE shard exchange, no join, narrow explode") {
    val plan = packed.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(shard".r.findAllIn(plan).size == 1,
      s"expected exactly the one shard window exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
      s"packing must not join:\n$plan")
  }

  test("capacity must be positive") {
    intercept[IllegalArgumentException] {
      Packing.packConcat(fixture, "id", "n", "shard", 0L)
    }
  }
}
