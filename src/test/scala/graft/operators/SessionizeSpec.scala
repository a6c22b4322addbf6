package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  // key a: events at 0,10,20 | 100,105 (gap 80 > 50) ; key b: single event
  private lazy val ev = Seq(
    ("a", 1L, 0L), ("a", 2L, 10L), ("a", 3L, 20L),
    ("a", 4L, 100L), ("a", 5L, 105L), ("b", 6L, 7L))
    .toDF("k", "id", "ts")

  test("assign: gap > maxGap starts a new session; ordinals are 1-based") {
    val out = Sessionize.assign(ev, "k", "ts", maxGap = 50L, tieCol = "id")
      .select($"k", $"id", $"session_ord").as[(String, Long, Long)]
      .collect().toSet
    assert(out == Set(("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 1L),
      ("a", 4L, 2L), ("a", 5L, 2L), ("b", 6L, 1L)))
  }

  test("boundary: gap exactly maxGap stays in the session") {
    val e = Seq(("a", 1L, 0L), ("a", 2L, 50L), ("a", 3L, 101L))
      .toDF("k", "id", "ts")
    val out = Sessionize.assign(e, "k", "ts", 50L, "id")
      .select($"id", $"session_ord").as[(Long, Long)].collect().toMap
    assert(out(2L) == 1L) // gap == 50 -> same session
    assert(out(3L) == 2L) // gap 51 -> new
  }

  test("stats: bounds, counts, duration, value sum") {
    val out = Sessionize.stats(ev.withColumn("v", lit(2L).cast("double")),
      "k", "ts", 50L, "id", valueCol = Some("v"))
      .orderBy($"k", $"session_ord").collect()
    val s1 = out(0)
    assert(s1.getAs[Long]("n_events") == 3L)
    assert(s1.getAs[Long]("start_ts") == 0L &&
      s1.getAs[Long]("end_ts") == 20L && s1.getAs[Long]("duration") == 20L)
    assert(s1.getAs[Double]("sum_v") == 6.0)
    assert(out(1).getAs[Long]("n_events") == 2L)
    assert(out(2).getAs[Long]("n_events") == 1L)
  }

  test("assignStitched: boundary-spanning chains merge; empty buckets split") {
    // bucket=100, maxGap=100: events chain across 4 bucket boundaries
    // (every gap == maxGap), then an empty bucket forces a split
    val e = Seq(("a", 1L, 50L), ("a", 2L, 150L), ("a", 3L, 250L),
      ("a", 4L, 350L), ("a", 5L, 600L), ("b", 6L, 99L), ("b", 7L, 101L))
      .toDF("k", "id", "ts")
    val out = Sessionize.assignStitched(e, "k", "ts", maxGap = 100L,
      tieCol = "id", bucketWidth = 100L)
      .select($"id", $"session_ord").as[(Long, Long)].collect().toMap
    // chain through buckets 0->1->2->3 is ONE session (transitive merge)
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L))
    // bucket 4 is empty: id 5 starts session 2
    assert(out(5L) == 2L)
    // b: gap 2 across the boundary merges
    assert(out(6L) == 1L && out(7L) == 1L)
  }

  test("assignStitched == assign (differential on the events table)") {
    val gapUs = 1800000000L   // 30 min
    val dayUs = 86400000000L  // 1 day
    // fail fast if the dataset regresses to TIMESTAMP(NANOS) — the
    // micros projection below would silently misread it (ADVICE r6)
    graft.Tables.assertEventsTsReadable(spark, "/root/testdata/sf0.001")
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select($"user_id", $"event_id", expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
    val plain = Sessionize.assign(e, "user_id", "ts_us", gapUs, "event_id")
      .select($"event_id", $"session_ord").as[(Long, Long)].collect().toMap
    val stitched = Sessionize.assignStitched(e, "user_id", "ts_us", gapUs,
      "event_id", dayUs)
      .select($"event_id", $"session_ord").as[(Long, Long)].collect().toMap
    assert(stitched == plain)
    // and on a mega-key fixture: one key owning every event
    val mega = e.withColumn("user_id", lit(42L))
    val p2 = Sessionize.assign(mega, "user_id", "ts_us", gapUs, "event_id")
      .select($"event_id", $"session_ord").as[(Long, Long)].collect().toMap
    val s2 = Sessionize.assignStitched(mega, "user_id", "ts_us", gapUs,
      "event_id", dayUs)
      .select($"event_id", $"session_ord").as[(Long, Long)].collect().toMap
    assert(s2 == p2)
  }

  test("assignStitched keeps NULL-key and NULL-ts rows, like assign") {
    // assign windows NULL keys as one partition and sorts NULL ts first
    // (each its own new session); the stitch join must not drop either
    val e = Seq(
      (Some("a"), 1L, Some(0L)), (Some("a"), 2L, Some(10L)),
      (Some("a"), 3L, None),                      // NULL ts, real key
      (None, 4L, Some(5L)), (None, 5L, Some(300L)), // NULL key
      (None, 6L, None))                            // NULL key AND ts
      .toDF("k", "id", "ts")
    val plain = Sessionize.assign(e, "k", "ts", 50L, "id")
      .select($"id", $"session_ord").as[(Long, Long)].collect().toMap
    val stitched = Sessionize.assignStitched(e, "k", "ts", 50L, "id", 100L)
      .select($"id", $"session_ord").as[(Long, Long)].collect().toMap
    assert(stitched.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L),
      "stitch twin dropped NULL-key/NULL-ts rows")
    assert(stitched == plain)
  }

  test("assignStitched plan: event window partitioned by (key, bucket)") {
    val e = Seq(("a", 1L, 50L)).toDF("k", "id", "ts")
    val out = Sessionize.assignStitched(e, "k", "ts", 100L, "id", 100L)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: LWindow => w.partitionSpec.length
    }
    // the event-level pass partitions on (key, bucket); the per-key
    // stitch window runs over one bounded row per active key-bucket;
    // nothing is globally sorted
    assert(wins.contains(2), s"window partition specs: $wins")
    assert(wins.forall(_ >= 1))
    // bucketWidth < maxGap is rejected (stitch would need lookback > 1)
    intercept[IllegalArgumentException] {
      Sessionize.assignStitched(e, "k", "ts", 200L, "id", 100L)
    }
  }

  test("plan: one hash exchange on the key feeds both windows and the agg") {
    val plan = Sessionize.stats(ev, "k", "ts", 50L, "id")
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(k".r.findAllIn(plan).size >= 1)
    assert(!plan.contains("CartesianProduct"))
  }

  test("peakConcurrency: sweep counts overlaps, touching shares a µs," +
      " back-to-back does not") {
    import spark.implicits._
    val day = 86400000000L
    // sessions (gap 15): u1 [0,10] ∥ u2 [5,20] -> peak 2;
    // u4 [40,50] and u5 [50,60] TOUCH at 50 -> overlap (peak 2);
    // u6 [70,80] then u7 [81,90] back-to-back -> never 2;
    // day 1: one singleton session -> peak 1
    val ev2 = Seq((1L, 0L, 1L), (1L, 10L, 2L), (2L, 5L, 3L),
      (2L, 20L, 4L), (4L, 40L, 5L), (4L, 50L, 6L), (5L, 50L, 7L),
      (5L, 60L, 8L), (6L, 70L, 9L), (6L, 80L, 10L), (7L, 81L, 11L),
      (7L, 90L, 12L), (8L, day + 5L, 13L)).toDF("k", "ts", "id")
    val got = Sessionize.peakConcurrency(ev2, "k", "ts", maxGap = 15L,
        tieCol = "id")
      .orderBy($"day").as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 2L), (1L, 1L)), got.toString)
    // remove u5: the only remaining overlap is u1/u2
    val noTouch = ev2.filter($"k" =!= 5L)
    val got2 = Sessionize.peakConcurrency(noTouch, "k", "ts",
        maxGap = 15L, tieCol = "id")
      .orderBy($"day").as[(Long, Long)].collect().toSeq
    assert(got2 == Seq((0L, 2L), (1L, 1L)), got2.toString)
  }

  test("bounceRate: singleton sessions per start day, midnight spans" +
      " count once") {
    import spark.implicits._
    val day = 86400000000L
    val ev2 = Seq(
      (1L, 0L, 1L),                         // day 0: solo -> bounce
      (1L, day, 2L), (1L, day + 100L, 3L),  // day 1: 2-event session
      (2L, day, 4L),                        // day 1: solo -> bounce
      // day 2, 23:59 -> day 3, 00:04 within the gap: ONE session,
      // counted on its START day (2), not a bounce
      (3L, 3 * day - 60000000L, 5L), (3L, 3 * day + 240000000L, 6L))
      .toDF("k", "ts", "id")
    val got = Sessionize.bounceRate(ev2, "k", "ts",
        maxGap = 1800000000L, tieCol = "id")
      .orderBy($"day").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 1L, 1000000L),
      (1L, 2L, 1L, 500000L), (2L, 1L, 0L, 0L)), got.toString)
    // total session accounting: sums match the stats frame
    assert(got.map(_._2).sum ==
      Sessionize.stats(ev2, "k", "ts", 1800000000L, "id").count())
  }
}
