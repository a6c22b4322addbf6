package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-step conversion funnels over an event stream — the classic
  * product-analytics operator (how many users performed step 1, then
  * step 2 strictly after it, then step 3 …, optionally all within a
  * time window of their first step). Semantics are the standard
  * GREEDY-EARLIEST match: each step binds to the user's earliest
  * qualifying event strictly after the previous step's binding —
  * deterministic (ties on the timestamp break on the event id, the
  * q43/q67 convention), order-sensitive (a purchase BEFORE the first
  * view does not count), and engine-portable (timestamps compared as
  * epoch micros — exact longs; no session-zone arithmetic).
  *
  * Scale design: step i is ONE aggregate over the type-filtered event
  * scan (the type predicate pushes to the scan) joined with the
  * bounded per-user frame of step i−1 — after step 1 every frame is
  * ≤ one row per user, so the k−1 later joins move per-user rows,
  * never the event stream; all joins and aggregates share the ONE
  * (user) hash partitioning. The earliest-qualifying choice is a
  * `min(struct(t, id))` — an ordinary orderable-struct aggregate with
  * map-side partials, no window, no sort.
  */
object Funnel {

  private def key(t: Column, id: Column): Column =
    struct(t.as("t"), id.as("id"))

  /** Per-user step-completion frame: one row per user per completed
    * step — (userCol, step (1-based), event_type, t, id) with the
    * bound event's micros timestamp and id. `tsMicrosCol` must be
    * epoch micros (project `unix_micros(cast(ts as timestamp))`
    * first — the engine-neutral event-time convention).
    * `maxSpanMicros` bounds every later step to within that span of
    * the user's FIRST-step binding (the standard "convert within N
    * hours" form).
    */
  def completions(events: DataFrame, userCol: String,
                  tsMicrosCol: String, idCol: String, typeCol: String,
                  steps: Seq[String],
                  maxSpanMicros: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    maxSpanMicros.foreach(s =>
      require(s > 0, s"maxSpanMicros must be positive, got $s"))
    val e = events.select(col(userCol).as("__u"),
      col(typeCol).as("__ty"), col(tsMicrosCol).cast("long").as("__t"),
      col(idCol).cast("long").as("__id"))
    val first = e.filter(col("__ty") === steps.head)
      .groupBy(col("__u"))
      .agg(min(key(col("__t"), col("__id"))).as("__k"))
      .withColumn("__t0", col("__k.t"))
    val frames = steps.indices.tail.scanLeft(first) { (prev, i) =>
      val spanOk = maxSpanMicros
        .map(s => col("__t") - col("__t0") <= s).getOrElse(lit(true))
      e.filter(col("__ty") === steps(i))
        .join(prev.select(col("__u"), col("__k").as("__pk"),
          col("__t0")), Seq("__u"))
        .filter(key(col("__t"), col("__id")) > col("__pk") && spanOk)
        .groupBy(col("__u"))
        .agg(min(key(col("__t"), col("__id"))).as("__k"),
          min(col("__t0")).as("__t0"))
    }
    frames.zipWithIndex.map { case (f, i) =>
      f.select(col("__u").as(userCol), lit(i + 1L).as("step"),
        lit(steps(i)).as("event_type"), col("__k.t").as("t"),
        col("__k.id").as("id"))
    }.reduce(_.unionByName(_))
  }

  /** The funnel report: (step, event_type, n_users) — how many users
    * reached each step under [[completions]]' semantics. Bounded
    * output (k rows); each step's count is a map-side-combined
    * aggregate of the per-user completion frame.
    */
  def conversion(events: DataFrame, userCol: String, tsMicrosCol: String,
                 idCol: String, typeCol: String, steps: Seq[String],
                 maxSpanMicros: Option[Long] = None): DataFrame = {
    val got = completions(events, userCol, tsMicrosCol, idCol, typeCol,
        steps, maxSpanMicros)
      .groupBy(col("step"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("__n"))
    // every step appears in the report, zero-reached ones included
    val spark = events.sparkSession
    import spark.implicits._
    val frame = steps.zipWithIndex
      .map { case (s, i) => (i + 1L, s) }.toDF("step", "event_type")
    frame.join(got, Seq("step", "event_type"), "left")
      .select(col("step"), col("event_type"),
        coalesce(col("__n"), lit(0L)).as("n_users"))
  }

  /** First-order transition matrix over per-user event sequences —
    * the Markov-chain view of behavior (and the drift monitor for it:
    * compare two periods' matrices): for every ordered adjacent pair
    * within a user's (t, id)-ordered history, count (prev, next)
    * transitions and report the row-normalized probability as an
    * exact ppm integral (10^6·n div row-total — `div` ⇄ `//`, no
    * floats). Returns (prev_type, next_type, n, p_ppm).
    *
    * Scale: one user-partitioned lag window (per-user histories; a
    * mega-user funnels its reducer — the q67 (user, time-bucket)
    * stitch is the escape hatch, losing only bucket-boundary pairs),
    * then a map-side-combined (prev, next) aggregate whose output is
    * ≤ |types|² rows; the row-total join is over that bounded frame.
    */
  def transitionMatrix(events: DataFrame, userCol: String,
                       tsMicrosCol: String, idCol: String,
                       typeCol: String,
                       scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsMicrosCol).cast("long"), col(idCol))
    val c = events
      .select(col(userCol), col(typeCol).as("next_type"),
        col(tsMicrosCol), col(idCol))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("__tn"))
    // products in decimal(38,0): scale·n tops Long past ~9·10^12
    // transitions per cell — reachable at corpus scale, and ANSI mode
    // would fail the whole job loudly rather than wrap
    c.join(broadcast(tot), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"),
        col("n").cast("long").as("n"),
        expr(s"(CAST($scale AS decimal(38,0)) * n) div __tn")
          .cast("long").as("p_ppm"))
  }

  /** First-order Markov next-event predictability: for each previous
    * event type, the argmax next type under [[transitionMatrix]]'s
    * counts (ties break next-type-ascending — deterministic) and the
    * top-1 accuracy that predictor achieves ON THE SAME transitions.
    * The key identity: the argmax cell's own count IS the number of
    * correct predictions, so accuracy needs NO second pass over the
    * events — n_correct(prev) = max-cell n, acc = that over Σn.
    * Returns (prev_type, predicted_next, n_transitions, n_correct,
    * acc_ppm) — the "how mechanical are user journeys" ceiling for
    * any next-event model (a learned model that can't beat this table
    * isn't learning).
    *
    * Scale: one user-keyed window pass over the events (the
    * [[transitionMatrix]] exchange), then everything is the
    * |types|²-bounded cell frame — one rank, one rollup.
    */
  def markovAccuracy(events: DataFrame, userCol: String,
                     tsMicrosCol: String, idCol: String,
                     typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsMicrosCol).cast("long"), col(idCol))
    val c = events
      .select(col(userCol), col(typeCol).as("next_type"),
        col(tsMicrosCol), col(idCol))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val pred = c.withColumn("__rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("prev_type"))
          .orderBy(col("n").desc, col("next_type"))))
      .filter(col("__rk") === 1)
      .select(col("prev_type"), col("next_type").as("predicted_next"),
        col("n").as("__correct"))
    val tot = c.groupBy(col("prev_type"))
      .agg(sum(col("n")).cast("decimal(38,0)").as("__tn"))
    pred.join(tot, Seq("prev_type"))
      .select(col("prev_type"), col("predicted_next"),
        col("__tn").cast("long").as("n_transitions"),
        col("__correct").cast("long").as("n_correct"),
        expr("(CAST(1000000 AS decimal(38,0)) * __correct) div __tn")
          .cast("long").as("acc_ppm"))
  }

  /** Rapid-repeat (double-fire) telemetry screen: per event type, how
    * many events arrive within `withinMicros` of the SAME user's
    * previous event of the SAME type — the double-click / retry-storm
    * / duplicate-delivery detector that exact-id dedup misses (the
    * rows are distinct; the BEHAVIOR is the duplicate). One lag
    * window per (user, type), ties broken on the id column. Returns
    * (event_type, n_events, n_rapid, rapid_ppm).
    *
    * Scale: ONE (user, type)-keyed window pass over the events, then
    * a |types|-bounded map-side rollup — no join, no self-pairing.
    */
  def rapidRepeats(events: DataFrame, userCol: String,
                   tsMicrosCol: String, idCol: String,
                   typeCol: String, withinMicros: Long): DataFrame = {
    require(withinMicros >= 1, s"withinMicros >= 1, got $withinMicros")
    val D = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol), col("event_type"))
      .orderBy(col("__t"), col(idCol))
    events
      .select(col(userCol), col(typeCol).as("event_type"),
        col(tsMicrosCol).cast("long").as("__t"), col(idCol))
      .withColumn("__dt", col("__t") - lag(col("__t"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__dt").isNotNull &&
          col("__dt") <= withinMicros, 1L).otherwise(0L)).as("__r"))
      .select(col("event_type"),
        col("__n").cast("long").as("n_events"),
        col("__r").cast("long").as("n_rapid"),
        expr(s"(CAST(1000000 AS $D) * __r) div __n").cast("long")
          .as("rapid_ppm"))
  }

  /** Inter-arrival burstiness per event type: the variance-to-mean
    * ratio (Fano factor) of same-user same-type gaps — the
    * distribution view behind [[rapidRepeats]]'s threshold count
    * (VMR ≈ mean gap is the memoryless/Poisson baseline; VMR ≫ mean
    * means retry storms and batchy delivery, VMR ≪ mean means
    * metronome traffic, i.e. bots). Exact integers: VMR in µs is the
    * single floor ⌊(n·Σg² − (Σg)²)/(n·Σg)⌋ of decimal(38,0)
    * accumulators — the quotient is VMR itself (µs-scaled, ≤ the
    * largest gap by construction), so `div`'s long return never
    * truncates. Returns (event_type, n_gaps, mean_gap_us, vmr_us).
    *
    * Scale: ONE (user, type)-keyed window pass (the [[rapidRepeats]]
    * exchange), then a |types|-bounded map-side fold.
    */
  def interarrivalVmr(events: DataFrame, userCol: String,
                      tsMicrosCol: String, idCol: String,
                      typeCol: String): DataFrame = {
    val D = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol), col("event_type"))
      .orderBy(col("__t"), col(idCol))
    events
      .select(col(userCol), col(typeCol).as("event_type"),
        col(tsMicrosCol).cast("long").as("__t"), col(idCol))
      .withColumn("__dt",
        (col("__t") - lag(col("__t"), 1).over(w)).cast(D))
      .filter(col("__dt").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(D).as("__n"),
        sum(col("__dt")).as("__s1"),
        sum(col("__dt") * col("__dt")).as("__s2"))
      .select(col("event_type"),
        col("__n").cast("long").as("n_gaps"),
        expr("CAST(__s1 div __n AS BIGINT)").as("mean_gap_us"),
        expr(s"""CAST(CASE WHEN __s1 > 0
          THEN (__n * __s2 - __s1 * __s1) div (__n * __s1)
          ELSE 0 END AS BIGINT)""").as("vmr_us"))
  }

  /** Discrete Kaplan–Meier survival curve for time-to-first-`target`
    * (Kaplan & Meier 1958): each user enters at their first event
    * day; the event is their first `target`-type day, and users who
    * never convert are right-censored at the observation end (the
    * corpus's last day) — the estimator that plain conversion rates
    * get wrong by silently dropping censored users. Exact integers:
    * per event day t, the factor ⌊10⁶·(n_t−d_t)/n_t⌋ and the running
    * product folded in ppm via the higher-order `aggregate` over the
    * day-ordered factor list — s′ = ⌊s·f/10⁶⌋ stays ≤ 10¹² so the
    * long fold can't overflow, and the oracle replays the identical
    * fold with `list_reduce` (floors compound identically — the
    * quantized fold IS the statistic). Returns
    * (t_days, n_events, n_at_risk, surv_ppm) for event days only.
    *
    * Scale: two user-keyed aggregates over the events (entry day,
    * first target day) + one user-keyed join — each user reduces to
    * ONE duration row; everything after is the bounded |days| frame
    * (a cumulative window + the in-plan fold over its collected
    * factor list — bounded by contract, never the raw events).
    */
  def survivalCurve(events: DataFrame, userCol: String,
                    tsMicrosCol: String, typeCol: String,
                    target: String,
                    dayMicros: Long = 86400000000L): DataFrame = {
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    val e = events.select(col(userCol).as("__u"),
      col(typeCol).as("__ty"),
      expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros").as("__d"))
    val entry = e.groupBy(col("__u")).agg(min(col("__d")).as("__ud"))
    val firstT = e.filter(col("__ty") === target)
      .groupBy(col("__u")).agg(min(col("__d")).as("__pd"))
    val horizon = e.agg(max(col("__d")).as("__d1"))
    val dur = entry
      .join(firstT, entry("__u") === firstT("__u") &&
        col("__pd") >= col("__ud"), "left")
      .crossJoin(broadcast(horizon))
      .select(
        when(col("__pd").isNotNull, col("__pd") - col("__ud"))
          .otherwise(col("__d1") - col("__ud")).as("__t"),
        when(col("__pd").isNotNull, 1L).otherwise(0L).as("__ev"))
    val days = dur.groupBy(col("__t"))
      .agg(sum(col("__ev")).as("__di"), count(lit(1)).as("__leave"))
    val pre = Window.orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val risk = days
      .withColumn("__n", sum(col("__leave")).over(all) -
        coalesce(sum(col("__leave")).over(pre), lit(0L)))
      .filter(col("__di") > 0)
      .select(col("__t"), col("__di"), col("__n"),
        expr(s"CAST((CAST(1000000 AS $D) * (__n - __di)) div __n " +
          "AS BIGINT)").as("__f"))
    val cum = Window.orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk
      .withColumn("__fs", collect_list(col("__f")).over(cum))
      .select(col("__t").cast("long").as("t_days"),
        col("__di").cast("long").as("n_events"),
        col("__n").cast("long").as("n_at_risk"),
        expr("aggregate(__fs, CAST(1000000 AS BIGINT), " +
          "(s, x) -> (s * x) div 1000000)").as("surv_ppm"))
  }

  /** First-touch channel conversion: users grouped by the event TYPE
    * of their very first event (ties on the id column), scored on
    * whether a `target` event lands within `windowMicros` of that
    * first touch — "which front door actually converts", the
    * acquisition-quality split behind [[attribution]]'s revenue
    * credit. The window bound is what keeps the rate meaningful
    * (unbounded, every long-lived user converts eventually and the
    * column saturates). Returns
    * (channel, n_users, n_converted, cvr_ppm).
    *
    * Scale: one user-keyed rank window (first touch), one user-keyed
    * join of the target events against the one-row-per-user frame,
    * then a |types|-bounded rollup.
    */
  def channelConversion(events: DataFrame, userCol: String,
                        tsMicrosCol: String, idCol: String,
                        typeCol: String, target: String,
                        windowMicros: Long): DataFrame = {
    require(windowMicros >= 1, s"windowMicros >= 1, got $windowMicros")
    val D = "decimal(38,0)"
    val e = events.select(col(userCol).as("__u"),
      col(typeCol).as("__ty"),
      col(tsMicrosCol).cast("long").as("__t"), col(idCol).as("__id"))
    val fst = e.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__u"))
          .orderBy(col("__t"), col("__id"))))
      .filter(col("__rn") === 1)
      .select(col("__u"), col("__ty").as("channel"),
        col("__t").as("__ft"))
    val conv = e.filter(col("__ty") === target)
      .select(col("__u"), col("__t").as("__ct"))
      .join(fst.select(col("__u"), col("__ft")), Seq("__u"))
      .filter(col("__ct") >= col("__ft") &&
        col("__ct") <= col("__ft") + windowMicros)
      .select(col("__u")).distinct()
      .withColumn("__hit", lit(1L))
    fst.join(conv, Seq("__u"), "left")
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
          .as("__c"))
      .select(col("channel"), col("__n").cast("long").as("n_users"),
        col("__c").cast("long").as("n_converted"),
        expr(s"(CAST(1000000 AS $D) * __c) div __n").cast("long")
          .as("cvr_ppm"))
  }

  /** Daily user-growth scorecard: active users, NEW users (first day
    * seen), and the running cumulative user count per day — the
    * new-vs-returning split behind every growth chart (and the
    * denominator sanity for [[retentionCohorts]]: cum_users on day
    * d = Σ cohort sizes through d). Returns
    * (day, n_active, n_new, cum_users).
    *
    * Scale: one (day, user) distinct + one user-keyed min — both
    * map-side combined — then a |days|-bounded left join and one
    * cumulative window over the day frame.
    */
  def userGrowth(events: DataFrame, userCol: String,
                 tsMicrosCol: String,
                 dayMicros: Long = 86400000000L): DataFrame = {
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    import org.apache.spark.sql.expressions.Window
    val e = events.select(col(userCol).as("__u"),
      expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros").as("__d"))
    val act = e.groupBy(col("__d"))
      .agg(countDistinct(col("__u")).as("n_active"))
    val nw = e.groupBy(col("__u")).agg(min(col("__d")).as("__fd"))
      .groupBy(col("__fd")).agg(count(lit(1)).as("__nn"))
    act.join(nw, act("__d") === nw("__fd"), "left")
      .na.fill(0L, Seq("__nn"))
      .withColumn("cum_users", sum(col("__nn")).over(
        Window.orderBy(col("__d")).rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .select(col("__d").cast("long").as("day"),
        col("n_active").cast("long").as("n_active"),
        col("__nn").cast("long").as("n_new"),
        col("cum_users").cast("long").as("cum_users"))
  }

  /** Log₂-bucketed inter-arrival histogram per event type — the
    * HDR-histogram view behind [[interarrivalVmr]]'s single number:
    * bucket = number of binary digits of the µs gap (via
    * `length(bin(x))` — EXACT integer arithmetic in both engines,
    * where `floor(log2(x))` would ride a transcendental), bucket 0
    * for same-microsecond gaps. A retry storm is mass in low
    * buckets; a bot is a spike in exactly one. Returns
    * (event_type, log2_bucket, n, share_ppm).
    *
    * Scale: the [[rapidRepeats]] window pass, then a
    * (|types|·64)-bounded map-side rollup.
    */
  def gapHistogram(events: DataFrame, userCol: String,
                   tsMicrosCol: String, idCol: String,
                   typeCol: String): DataFrame = {
    val D = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol), col("event_type"))
      .orderBy(col("__t"), col(idCol))
    val c = events
      .select(col(userCol), col(typeCol).as("event_type"),
        col(tsMicrosCol).cast("long").as("__t"), col(idCol))
      .withColumn("__dt", col("__t") - lag(col("__t"), 1).over(w))
      .filter(col("__dt").isNotNull)
      .select(col("event_type"),
        when(col("__dt") >= 1, length(bin(col("__dt"))))
          .otherwise(0).cast("long").as("log2_bucket"))
      .groupBy(col("event_type"), col("log2_bucket"))
      .agg(count(lit(1)).as("__n"))
    val tot = c.groupBy(col("event_type"))
      .agg(sum(col("__n")).cast(D).as("__tn"))
    c.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("log2_bucket"),
        col("__n").cast("long").as("n"),
        expr(s"(CAST(1000000 AS $D) * __n) div __tn").cast("long")
          .as("share_ppm"))
  }

  /** Conversion-latency percentiles — how long converting users take:
    * for every step ≥ 2 of a [[completions]] funnel, the distribution
    * of (step-k binding time − step-1 binding time) per converted
    * user, reported as DISCRETE rank quantiles (the q47 convention —
    * the value at rank ⌈ppm·n/10⁶⌉ of the tie-free (delta, user)
    * order, never interpolated). Returns
    * (step, event_type, n_users, p50_us, p90_us).
    *
    * Scale: completions is the audited funnel shape (user-keyed
    * joins, ≤ one row per user per step); the latency frame is one
    * user-keyed join of two bounded per-user frames, and the
    * quantile windows partition by STEP over at most |users| rows
    * per step — the exact audit form (GK sketches swap in at
    * billions of conversions, the q157 escape).
    */
  def conversionLatency(events: DataFrame, userCol: String,
                        tsMicrosCol: String, idCol: String,
                        typeCol: String, steps: Seq[String],
                        maxSpanMicros: Option[Long] = None): DataFrame = {
    require(steps.size >= 2, s"latency needs >= 2 steps, got $steps")
    val c = completions(events, userCol, tsMicrosCol, idCol, typeCol,
      steps, maxSpanMicros)
    val t1 = c.filter(col("step") === 1L)
      .select(col(userCol).as("__u"), col("t").as("__t1"))
    val d = c.filter(col("step") > 1L)
      .select(col(userCol).as("__u"), col("step"), col("event_type"),
        col("t"))
      .join(t1, Seq("__u"))
      .select(col("step"), col("event_type"), col("__u"),
        (col("t") - col("__t1")).as("__d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("step"))
      .orderBy(col("__d"), col("__u"))
    def atRank(ppm: Long) =
      max(when(col("__rn") === greatest(lit(1L),
        expr(s"($ppm * __n + 999999) div 1000000")), col("__d")))
    d.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("step"))))
      .groupBy(col("step"), col("event_type"))
      .agg(max(col("__n")).cast("long").as("n_users"),
        atRank(500000L).cast("long").as("p50_us"),
        atRank(900000L).cast("long").as("p90_us"))
  }

  /** Revenue attribution — credit each conversion's value to an
    * acquisition channel under the two standard single-touch models:
    * FIRST-touch (the type of the user's first event ever) and
    * LAST-touch (the type of the user's latest NON-conversion event
    * strictly before the conversion; a conversion with no prior
    * touch credits the `[NONE]` sentinel). Values are exact integer
    * units (pass cents); ties on the timestamp break on the event id
    * (the q43 convention). Returns (model, channel, n_purchases,
    * sum_cents), one row per model × channel.
    *
    * Scale: ONE user-partitioned window pass computes both lookups
    * (first_value, and ignore-nulls last over the strictly-before
    * frame — no self-join, no as-of shuffle), then a bounded
    * (model × channel) aggregate with map-side partials. A mega-user
    * costs one sort run — the q67 stitch escape applies.
    */
  def attribution(events: DataFrame, userCol: String,
                  tsMicrosCol: String, idCol: String, typeCol: String,
                  centsCol: String,
                  conversionType: String = "purchase"): DataFrame = {
    require(conversionType.nonEmpty, "conversionType must be non-empty")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u"))
      .orderBy(col("__t"), col("__id"))
    val before = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val p = events.select(col(userCol).as("__u"),
        col(typeCol).as("__ty"),
        col(tsMicrosCol).cast("long").as("__t"),
        col(idCol).cast("long").as("__id"),
        col(centsCol).cast("long").as("__c"))
      .withColumn("__first", first(col("__ty")).over(w))
      .withColumn("__last",
        last(when(col("__ty") =!= conversionType, col("__ty")),
          ignoreNulls = true).over(before))
      .filter(col("__ty") === conversionType)
    p.select(lit("first").as("model"), col("__first").as("channel"),
        col("__c"))
      .unionByName(p.select(lit("last").as("model"),
        coalesce(col("__last"), lit("[NONE]")).as("channel"),
        col("__c")))
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).cast("long").as("n_purchases"),
        sum(col("__c")).cast("long").as("sum_cents"))
  }

  /** Engagement stickiness — per day: DAU (distinct active users),
    * trailing-`horizon`-day MAU (distinct users active in
    * [d−horizon+1, d]) and the DAU/MAU ratio as exact ppm
    * (10⁶·dau div mau). Days are exact epoch-micros `div` buckets,
    * so the table is engine-portable; only days with activity are
    * reported.
    *
    * Scale: the trailing-window distinct is NOT a per-day re-scan —
    * the (user, day) activity frame is deduped ONCE (corpus-scale but
    * map-side combined), then each activity row fans out to the ≤
    * `horizon` target days it keeps a user active in (a narrow
    * `sequence` explode of the DEDUPED frame — horizon× its size,
    * independent of raw event volume), and a second distinct+count
    * lands MAU. Both counts share day-keyed aggregates; no window,
    * no sort, no per-day self-join.
    */
  def stickiness(events: DataFrame, userCol: String,
                 tsMicrosCol: String, horizon: Int = 28,
                 dayMicros: Long = 86400000000L): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val act = events.select(col(userCol).as("__u"),
        expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros").as("__d"))
      .distinct()
    val dau = act.groupBy(col("__d"))
      .agg(count(lit(1)).as("dau"))
    val mau = act
      .select(col("__u"),
        explode(sequence(col("__d"),
          col("__d") + (horizon - 1))).as("__td"))
      .distinct()
      .groupBy(col("__td").as("__d"))
      .agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("__d"))
      .select(col("__d").cast("long").as("day"),
        col("dau").cast("long").as("dau"),
        col("mau").cast("long").as("mau"),
        expr("(CAST(1000000 AS decimal(38,0)) * dau) div mau")
          .cast("long").as("stickiness_ppm"))
  }

  /** Top user-journey paths — the exploratory sibling of the fixed
    * funnel: take each user's FIRST `pathLen` events in (t, id) order,
    * join their types with `>` into a path string, and report the
    * `k` most common paths (ties break on the path string, so the
    * report is deterministic). The classic "what do users actually
    * do" product-analytics view that funnels are then built from.
    *
    * Scale: ONE user-partitioned window ranks each user's history
    * (a mega-user costs one sort run — the q67 (user, bucket) stitch
    * is the escape), the per-user path build reuses that exchange's
    * user partitioning, and the path count is a map-side-combined
    * aggregate whose output is bounded by |types|^pathLen distinct
    * paths (keep pathLen small — it is a report knob, not a corpus
    * knob). The final top-k is a single bounded-input rank.
    */
  def topPaths(events: DataFrame, userCol: String, tsMicrosCol: String,
               idCol: String, typeCol: String, pathLen: Int,
               k: Int): DataFrame = {
    require(pathLen >= 1, s"pathLen must be >= 1, got $pathLen")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u"))
      .orderBy(col(tsMicrosCol).cast("long"), col(idCol))
    val paths = events
      .select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        col(tsMicrosCol), col(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= pathLen)
      .groupBy(col("__u"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__rn"), col("__ty")))),
        x => x.getField("__ty")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).cast("long").as("n_users"))
    TopK.perGroup(paths, Seq(lit(1)),
        Seq(col("n_users").desc, col("path")), k)
      .drop("rk")
  }

  /** Funnel conversion rates WITH bootstrap uncertainty — the
    * composition that turns the funnel report into a decision: per
    * step ≥ 2, the exact conversion rate among step-1 enterers plus
    * a 95% Poisson-bootstrap percentile interval over users
    * ([[Bootstrap.replicateMeansBy]] on the 0/1 reached indicator —
    * a replicate mean of 0/1 IS a rate in ppm, and resampling USERS
    * is the right unit: a user's events are dependent). Same
    * replicate weights per user across steps (content-addressed
    * seed), so step CIs are comparable. Returns
    * (step, n_entered, n_reached, rate_ppm, lo_ppm, hi_ppm).
    *
    * Scale: completions' audited user-keyed shape; the indicator
    * grid is |enterers|·(steps−1) rows; the bootstrap is the q191
    * single-pass (step, b)-keyed aggregate; CIs rank B-row frames.
    */
  def conversionRateCi(events: DataFrame, userCol: String,
                       tsMicrosCol: String, idCol: String,
                       typeCol: String, steps: Seq[String],
                       maxSpanMicros: Option[Long] = None,
                       replicates: Int = 64,
                       salt: String = "funl"): DataFrame = {
    require(steps.size >= 2, s"need >= 2 steps, got $steps")
    val c = completions(events, userCol, tsMicrosCol, idCol, typeCol,
      steps, maxSpanMicros)
    val entered = c.filter(col("step") === 1L)
      .select(col(userCol).as("__u"))
    val rows = steps.indices.tail.map { i =>
      val reached = c.filter(col("step") === (i + 1).toLong)
        .select(col(userCol).as("__u"), lit(1L).as("__r"))
      entered.join(reached, Seq("__u"), "left")
        .select(lit((i + 1).toLong).as("stp"), col("__u"),
          coalesce(col("__r"), lit(0L)).as("x"))
    }.reduce(_.unionByName(_))
    val means = Bootstrap.replicateMeansBy(rows, "stp", "__u", "x",
      replicates, salt)
    val ci = Bootstrap.ciBy(means, "stp")
      .select(col("stp"), col("lo_micro").as("lo_ppm"),
        col("hi_micro").as("hi_ppm"))
    rows.groupBy(col("stp"))
      .agg(count(lit(1)).cast("long").as("n_entered"),
        sum(col("x")).cast("long").as("n_reached"),
        expr("(1000000 * SUM(x)) div COUNT(*)").cast("long")
          .as("rate_ppm"))
      .join(ci, Seq("stp"))
      .select(col("stp").cast("long").as("step"), col("n_entered"),
        col("n_reached"), col("rate_ppm"), col("lo_ppm"),
        col("hi_ppm"))
  }

  /** Cohort value curves — [[retentionCohorts]]' revenue sibling
    * (LTV by cohort age): users bucket into the cohort of their
    * first active period; each conversion's exact integer value lands
    * in (cohort, k = periods since cohort), and the report carries
    * both the per-age value and the RUNNING cumulative — the curve
    * whose flattening says when a cohort stops paying back. Returns
    * (cohort, k, rev_cents, cum_rev_cents).
    *
    * Scale: the per-user first-bucket frame and the (cohort, k)
    * value aggregate are the retentionCohorts shapes (map-side
    * combined, user-keyed join of bounded frames); the cumulative is
    * one window over the |cohorts|·|ages| report grid.
    */
  def cohortValue(events: DataFrame, userCol: String,
                  tsMicrosCol: String, centsCol: String,
                  bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0,
      s"bucketMicros must be positive, got $bucketMicros")
    val act = events.select(col(userCol).as("__u"),
      expr(s"CAST($tsMicrosCol AS BIGINT) div $bucketMicros").as("__b"),
      col(centsCol).cast("long").as("__c"))
    val coh = act.groupBy(col("__u")).agg(min(col("__b")).as("__coh"))
    val cells = act.join(coh, Seq("__u"))
      .groupBy(col("__coh").as("cohort"),
        (col("__b") - col("__coh")).as("k"))
      .agg(sum(col("__c")).as("rev_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort")).orderBy(col("k"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    cells.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select(col("cohort").cast("long").as("cohort"),
        col("k").cast("long").as("k"),
        col("rev_cents").cast("long").as("rev_cents"),
        col("cum_rev_cents").cast("long").as("cum_rev_cents"))
  }

  /** Higher-order sequence mining — counts of contiguous event-type
    * k-grams within per-user (t, id)-ordered histories (k = 3 is the
    * classic "what leads to what leads to what" view one order above
    * [[transitionMatrix]]'s bigrams). Returns the top `k` grams
    * (types joined with `>`) by (count desc, gram asc).
    *
    * Scale: ONE user window computes the n−1 lags in a single pass
    * (they share the frame), then a map-side-combined aggregate
    * bounded by |types|^n; the top-k is one bounded rank. Same
    * mega-user caveat and q67 stitch escape as the bigram form.
    */
  def topKgrams(events: DataFrame, userCol: String, tsMicrosCol: String,
                idCol: String, typeCol: String, n: Int,
                k: Int): DataFrame = {
    require(n >= 2 && n <= 6, s"n must be in [2, 6], got $n")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u"))
      .orderBy(col(tsMicrosCol).cast("long"), col(idCol))
    val base = events.select(col(userCol).as("__u"),
      col(typeCol).as("__ty"), col(tsMicrosCol), col(idCol))
    val withLags = (1 until n).foldLeft(base) { (df, i) =>
      df.withColumn(s"__l$i", lag(col("__ty"), i).over(w))
    }
    val gram = concat_ws(">",
      ((n - 1) to 1 by -1).map(i => col(s"__l$i")) :+ col("__ty"): _*)
    withLags.filter(col(s"__l${n - 1}").isNotNull)
      .select(gram.as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).cast("long").as("n_grams"))
      .transform(df => TopK.perGroup(df, Seq(lit(1)),
        Seq(col("n_grams").desc, col("gram")), k).drop("rk"))
  }

  /** Retention cohort table — the funnel's longitudinal sibling:
    * bucket time into `bucketMicros` periods, assign each user to the
    * cohort of their FIRST active bucket, and report
    * (cohort, k, n_users) = how many of each cohort's users were
    * active again k buckets later (k = 0 is the cohort size). All
    * exact integer bucket arithmetic (`div` ⇄ `//` on epoch micros),
    * so the table is engine-portable.
    *
    * Scale: ONE distinct over (user, bucket) — corpus-scale but
    * map-side combined — then a per-user min and a user-keyed join of
    * two bounded frames; the report is |cohorts|·|horizon| rows. No
    * window, no sort.
    */
  def retentionCohorts(events: DataFrame, userCol: String,
                       tsMicrosCol: String,
                       bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0,
      s"bucketMicros must be positive, got $bucketMicros")
    val act = events.select(col(userCol).as("__u"),
        expr(s"CAST($tsMicrosCol AS BIGINT) div $bucketMicros")
          .as("__b"))
      .distinct()
    val coh = act.groupBy(col("__u")).agg(min(col("__b")).as("__c"))
    act.join(coh, Seq("__u"))
      .groupBy(col("__c").as("cohort"),
        (col("__b") - col("__c")).as("k"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }
}
