package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization — the standard event-stream operator
  * (north-star; the reference has no event sessions). A session breaks
  * when the gap to the previous event of the same key exceeds
  * `maxGap` (same units as `tsCol`).
  *
  * Both steps are window functions over ONE hash partitioning of the
  * key: lag → new-session flag, running sum → session ordinal. No
  * self-join, no state on the driver; at 100 TB the single shuffle on
  * the key is the floor for any per-key ordering.
  *
  * Hot keys: [[AsofJoin.backwardSalted]]'s salt-and-replicate trick
  * does NOT transfer here, deliberately. The session ordinal is a
  * prefix sum over the key's complete time-ordered event sequence —
  * every event's value depends on every earlier event of the key, so
  * any salt split changes gaps at sub-partition boundaries and with
  * them the answer (as-of could replicate the small side; sessions
  * have no small side to replicate). AQE can't help either: skew-join
  * splitting does not apply to a single window partition. The scale
  * path is [[assignStitched]] — the same answer computed within
  * (key, bucket) partitions plus a boundary stitch, bounding any
  * reducer at one key-bucket of events. A key hot enough to stall
  * even a single key-day is a data-model smell (a bot or a default
  * id), not a partitioning bug.
  */
object Sessionize {

  /** Per-event session ordinal (1-based per key, in ts order). Ties on
    * equal ts break by `tieCol` so the numbering is deterministic.
    */
  def assign(df: DataFrame, keyCol: String, tsCol: String, maxGap: Long,
             tieCol: String, sessionCol: String = "session_ord"): DataFrame = {
    val order = Seq(col(tsCol).asc, col(tieCol).asc)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull || col(tsCol) - prev > maxGap, 1L)
      .otherwise(0L)
    df.withColumn(sessionCol,
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
  }

  /** Collapse to one row per session: bounds, size, and an optional
    * value sum. Reuses [[assign]]'s partitioning for the aggregate.
    */
  def stats(df: DataFrame, keyCol: String, tsCol: String, maxGap: Long,
            tieCol: String, valueCol: Option[String] = None,
            stitchBucket: Option[Long] = None): DataFrame = {
    // stitchBucket selects the (key, bucket) scale twin — same
    // ordinals (differential-tested; oracle-shared via q44/q67), but
    // the event window partitions on (key, bucket) instead of the
    // key's full history
    val assigned = stitchBucket match {
      case Some(w) => assignStitched(df, keyCol, tsCol, maxGap, tieCol, w)
      case None    => assign(df, keyCol, tsCol, maxGap, tieCol)
    }
    val aggs = Seq(
      count(lit(1)).as("n_events"),
      min(col(tsCol)).as("start_ts"),
      max(col(tsCol)).as("end_ts"),
      (max(col(tsCol)) - min(col(tsCol))).as("duration")) ++
      valueCol.map(v => sum(col(v)).as(s"sum_$v"))
    assigned.groupBy(col(keyCol), col("session_ord")).agg(aggs.head, aggs.tail: _*)
  }

  /** Daily bounce rate — sessions that never got a second event, per
    * session-START day: the engagement KPI that composes [[stats]]
    * (one row per session) into a |days|-bounded scorecard. A session
    * belongs to the day it STARTS (midnight-spanning sessions count
    * once — the convention that keeps Σn_sessions equal to the total
    * session count). Returns (day, n_sessions, n_bounces, bounce_ppm).
    *
    * Scale: [[stats]]'s audited (key, ord) shape, then ONE day-keyed
    * map-side rollup of the session frame.
    */
  def bounceRate(df: DataFrame, keyCol: String, tsCol: String,
                 maxGap: Long, tieCol: String,
                 dayMicros: Long = 86400000000L): DataFrame = {
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val D = "decimal(38,0)"
    stats(df, keyCol, tsCol, maxGap, tieCol)
      .select(expr(s"CAST(start_ts AS BIGINT) div $dayMicros")
        .as("day"), col("n_events"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("__b"))
      .select(col("day").cast("long").as("day"),
        col("__n").cast("long").as("n_sessions"),
        col("__b").cast("long").as("n_bounces"),
        expr(s"(CAST(1000000 AS $D) * __b) div __n").cast("long")
          .as("bounce_ppm"))
  }

  /** Peak concurrent sessions per day — the capacity-planning sweep:
    * each session emits +1 at its start and −1 at end+1 (sessions
    * are end-INCLUSIVE: one spanning [s, e] still counts at e, and
    * two sessions sharing a single µs overlap), the running sum over
    * the (t, delta) order is the live-session count, and its per-day
    * max is the peak; at equal t the −1 sorts first, so a release at
    * exactly t lands before a new join at t. Returns
    * (day, peak_concurrent).
    *
    * Exact form of the report: a day appears ONLY if it contains at
    * least one sweep point (a session start or end+1) — a day fully
    * inside a multi-day session emits no row — and a day's peak
    * reflects only its IN-DAY sweep points, so a day holding only
    * releases reports the count after its first in-day event, which
    * can understate a carry-in peak that stood at midnight. Both are
    * properties of the sweep-point contract, not bugs; a
    * boundary-carry row per day would close them at the cost of a
    * per-day anchor join.
    *
    * Scale: [[stats]]'s audited shape down to one row per session,
    * then ONE ordered window over the 2·|sessions| sweep points —
    * the exact audit form (per-day partitioned sweeps swap in at
    * billions of sessions; a session spanning midnight then needs
    * boundary carry — documented, not silently approximated).
    */
  def peakConcurrency(df: DataFrame, keyCol: String, tsCol: String,
                      maxGap: Long, tieCol: String,
                      dayMicros: Long = 86400000000L): DataFrame = {
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val sess = stats(df, keyCol, tsCol, maxGap, tieCol)
    val pts = sess.select(col("start_ts").cast("long").as("__t"),
        lit(1L).as("__d"))
      .unionByName(sess.select((col("end_ts").cast("long") + 1L)
        .as("__t"), lit(-1L).as("__d")))
    // the ±1 sweep's running sum runs TWO-PASS (Ranks.twoPass:
    // partitioned prefix sums + broadcast bucket offsets) — the former
    // un-partitioned window funnelled all 2·|sessions| sweep points
    // through one task
    Ranks.twoPass(pts, col("__t"), asc = true,
        Seq(col("__t"), col("__d")), None,
        Seq(Ranks.Cum(col("__d"), "__cur", inclusive = true)))
      .groupBy(expr(s"__t div $dayMicros").as("day"))
      .agg(max(col("__cur")).cast("long").as("peak_concurrent"))
      .select(col("day").cast("long").as("day"),
        col("peak_concurrent"))
  }

  /** Scale twin of [[assign]], same answer (differential-tested):
    * sessionize within (key, time-bucket) partitions, then stitch
    * sessions that span a bucket boundary. `bucketWidth` must be ≥
    * `maxGap`, which makes the stitch exact with ONE lag per active
    * bucket: a session can only bridge ADJACENT buckets (any skipped
    * bucket implies a gap > bucketWidth ≥ maxGap), so comparing each
    * bucket's first event to the previous active bucket's last event
    * decides every merge, and chains (a session crossing several
    * midnights) compose through the running renumbering below.
    *
    * Renumbering: with n_b local sessions in bucket b and m_b ∈ {0,1}
    * the merge-with-previous flag, the global ordinal of local session
    * (b, ord) is C(b) + ord − m_b where C(b) = Σ_{b'<b} (n_b' − m_b').
    * C(b) is exactly the ordinal of the previous bucket's last session,
    * so a merged first session inherits it — transitively.
    *
    * Cost shape at 100 TB: the event-level window partitions on
    * (key, bucket) — a mega-key's reducer sees one bucket, not its
    * whole history. The stitch operates on ONE ROW per active
    * (key, bucket) (first/last ts + session count): the per-key window
    * over those rows is bounded by #active-buckets (e.g. days in the
    * corpus), never by events. The join back to events reuses the
    * (key, bucket) hash partitioning.
    *
    * Bucket ids come from exact integral arithmetic (pmod + decimal
    * division), not double division — nanosecond timestamps exceed
    * 2^53 and would mis-bucket boundary events under floor(ts/width).
    */
  def assignStitched(df: DataFrame, keyCol: String, tsCol: String,
                     maxGap: Long, tieCol: String, bucketWidth: Long,
                     sessionCol: String = "session_ord"): DataFrame = {
    require(bucketWidth >= maxGap,
      s"bucketWidth ($bucketWidth) must be >= maxGap ($maxGap) so " +
        "sessions can only bridge adjacent buckets")
    val k = col(keyCol)
    val ts = col(tsCol)
    val bkt = ((ts - pmod(ts, lit(bucketWidth))).cast("decimal(38,0)") /
      lit(bucketWidth)).cast("long")
    val withB = df.withColumn("__bkt", bkt)

    // pass 1: local sessions, window partitioned by (key, bucket)
    val wLoc = Window.partitionBy(k, col("__bkt"))
      .orderBy(ts.asc, col(tieCol).asc)
    val prev = lag(ts, 1).over(wLoc)
    val isNew = when(prev.isNull || ts - prev > maxGap, 1L).otherwise(0L)
    val local = withB.withColumn("__ord",
      sum(isNew).over(wLoc.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))

    // pass 2 (bounded: one row per active key-bucket): merge flags and
    // the cumulative renumbering offset
    val wKey = Window.partitionBy(k).orderBy(col("__bkt").asc)
    val stitch = local.groupBy(k, col("__bkt"))
      .agg(min(ts).as("__first"), max(ts).as("__last"),
        max(col("__ord")).as("__n"))
      .withColumn("__m",
        when(col("__first") - lag(col("__last"), 1).over(wKey) <= maxGap,
          1L).otherwise(0L))
      .withColumn("__c",
        coalesce(sum(col("__n") - col("__m"))
          .over(wKey.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(k, col("__bkt"), col("__m"), col("__c"))

    // null-safe join keys: [[assign]] keeps NULL-key rows (one window
    // partition) and NULL-ts rows (sorted first, each a new session) —
    // a plain equi-join would silently drop both from the scale twin.
    // NULL ts lands in the NULL bucket, which sorts first in wKey, and
    // its NULL __last makes the next bucket's merge flag 0 — exactly
    // assign's `prev.isNull → new session`.
    val stitchR = stitch.withColumnRenamed(keyCol, "__sk")
      .withColumnRenamed("__bkt", "__sb")
    local.join(stitchR,
        col(keyCol) <=> col("__sk") && col("__bkt") <=> col("__sb"))
      .withColumn(sessionCol, col("__c") + col("__ord") - col("__m"))
      .drop("__bkt", "__ord", "__m", "__c", "__sk", "__sb")
  }
}
