package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-series smoothing over event/transaction streams — the
  * monitoring view (drift tests q135/q152 compare distributions; this
  * family tracks levels over time).
  */
object Timeseries {

  /** Day-of-week seasonality profile + uniformity test: per weekday
    * (0 = Monday, epoch-day arithmetic — day 0 was a Thursday, so
    * dow = (d + 3) mod 7), the row count, its exact ppm share, and
    * the cell's χ²-against-uniform term ⌊10⁶·(7·O − N)²/(7·N)⌋ (all
    * integral — the [[Profile.cramersV2]] per-cell quantization);
    * Σ terms ≈ 10⁶·χ²(dof 6). Returns (dow, n, share_ppm,
    * chi2_term_micro) — the "is volume weekday-shaped" monitor.
    *
    * Scale: ONE dow-keyed map-side count (7 cells); the total rides
    * a one-row broadcast.
    */
  def dowProfile(df: DataFrame, tsMicrosCol: String,
                 dayMicros: Long = 86400000000L): DataFrame = {
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val D = "decimal(38,0)"
    val c = df
      .select(expr(s"pmod(CAST($tsMicrosCol AS BIGINT) " +
        s"div $dayMicros + 3, 7)").as("dow"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"))
    val tot = c.agg(sum(col("n")).as("__t"))
    c.crossJoin(broadcast(tot))
      .select(col("dow").cast("long").as("dow"),
        col("n").cast("long").as("n"),
        expr(s"(CAST(1000000 AS $D) * n) div __t").cast("long")
          .as("share_ppm"),
        expr(s"""(CAST(1000000 AS $D) * (7 * CAST(n AS $D) - __t)
          * (7 * CAST(n AS $D) - __t))
          div (CAST(7 AS $D) * __t)""").cast("long")
          .as("chi2_term_micro"))
  }

  /** Trailing-window running sum over daily totals via a RANGE frame:
    * per day, the exact sum of `centsCol` across days in
    * [d − window + 1, d] — VALUE-based framing, so silent days inside
    * the window genuinely contribute nothing and a gap wider than the
    * window resets the sum (ROWS frames get this wrong; the gate
    * pins the distinction). Returns (day, n, cents, trail_cents).
    *
    * Scale: one day-keyed map-side rollup, then ONE ordered window
    * over the bounded daily frame.
    */
  def trailingDailySum(df: DataFrame, tsMicrosCol: String,
                       centsCol: String, window: Int = 7,
                       dayMicros: Long = 86400000000L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    import org.apache.spark.sql.expressions.Window
    val daily = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("day"), col(centsCol).cast("long").as("__c"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("cents"))
    val w = Window.orderBy(col("day"))
      .rangeBetween(-(window - 1).toLong, 0L)
    daily.withColumn("trail_cents", sum(col("cents")).over(w))
      .select(col("day").cast("long").as("day"),
        col("n").cast("long").as("n"),
        col("cents").cast("long").as("cents"),
        col("trail_cents").cast("long").as("trail_cents"))
  }

  /** Bucketed row counts with SILENT BUCKETS PRESENT: the
    * [min, max] bucket spine (bounds from one broadcast one-row
    * aggregate, materialized by one explode(sequence)) left-joins the
    * bucket-keyed counts; absent buckets report n = 0. This is the
    * upstream FILL the present-days operators ([[cusumCounts]],
    * [[dowAdjustedOutliers]], …) document for when silence itself is
    * the signal — a feed that stops emitting produces zero rows,
    * which no present-days monitor can see. Returns (day, n) ordered
    * frames keyed by `bucketMicros` buckets (86400000000 for days,
    * 3600000000 for hours).
    *
    * Scale: ONE bucket-keyed map-side count collapses the scan; the
    * spine is |buckets| rows generated from a broadcast bound pair —
    * no window, no second scan. An empty input yields an empty frame
    * (no bounds — the caller's alert, not a zero row).
    */
  def dailyCountsFilled(df: DataFrame, tsMicrosCol: String,
                        bucketMicros: Long = 86400000000L): DataFrame = {
    require(bucketMicros > 0,
      s"bucketMicros must be positive, got $bucketMicros")
    val cnt = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $bucketMicros")
        .as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("__n"))
    val bounds = cnt.agg(min(col("day")).as("__lo"),
      max(col("day")).as("__hi"))
    bounds.filter(col("__lo").isNotNull)
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
      .join(cnt, Seq("day"), "left")
      .select(col("day").cast("long").as("day"),
        coalesce(col("__n"), lit(0L)).cast("long").as("n"))
  }

  /** CUSUM change detection over daily row counts (Page 1954): the
    * upper cumulative sum s_d = max(0, s_{d−1} + x_d − μ − slack)
    * with μ = ⌊total/days⌋ derived from the series itself and an
    * integer `slack` absorbing drift (the fractional remainder of the
    * true mean accumulates without it — slack ≥ 1 keeps a stationary
    * series hugging 0 so genuine level shifts stand out). Flags days
    * where s_d > threshold·μ. All exact longs — CUSUM's recursion has
    * the CLOSED FORM s_d = P_d − min(0, min_{j≤d} P_j) over the
    * prefix sums P of (x − μ − slack), so no sequential fold is
    * needed: two ordered windows over the BOUNDED daily frame
    * (spec-pinned against the sequential reference). Days with no
    * rows at all do not appear and contribute nothing (present-days
    * semantics — fill the grid upstream if silence itself is the
    * signal). Returns (day, n, cusum, flagged).
    *
    * Scale: one day-keyed map-side count collapses the corpus to
    * |days| rows; everything after runs on that bounded frame.
    */
  def cusumCounts(df: DataFrame, tsMicrosCol: String, slack: Long = 1L,
                  threshold: Long = 10L,
                  dayMicros: Long = 86400000000L): DataFrame = {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    import org.apache.spark.sql.expressions.Window
    val cnt = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"))
    val mu = cnt.agg(expr("SUM(n) div COUNT(*)").as("__mu"))
    val w = Window.orderBy(col("day"))
    cnt.crossJoin(broadcast(mu))
      .withColumn("__p",
        sum(col("n") - col("__mu") - slack).over(w))
      .withColumn("cusum",
        col("__p") - least(lit(0L), min(col("__p")).over(w)))
      .select(col("day").cast("long").as("day"),
        col("n").cast("long").as("n"),
        col("cusum").cast("long").as("cusum"),
        (col("cusum") > lit(threshold) * col("__mu")).cast("long")
          .as("flagged"))
  }

  /** Exact exponentially-weighted moving average of daily row counts
    * with α = 1/2 and a truncated `horizon`: for each day d the
    * smoothed level is Σ_{j=0..H−1} count(d−j)·2^{H−1−j}, reported as
    * the exact integer numerator `ewma_scaled` (denominator 2^H —
    * divide client-side if a float is wanted). Power-of-two weights
    * keep every step in integer arithmetic (the q105 λ=1/2 precedent),
    * so the trajectory is bit-equal on any engine — no float
    * accumulation order to drift. Days are exact epoch-micros `div`
    * buckets; a day appears iff some activity falls in its trailing
    * window (absent days in the window contribute 0 by construction).
    *
    * Scale: ONE day-keyed count over the scan (map-side combined,
    * output = |days| rows), then a ≤ horizon× fan-out of that BOUNDED
    * daily frame (never the raw stream) and a second day-keyed
    * aggregate in decimal(38,0) — counts near 2^63/2^H would wrap a
    * long under ANSI; decimal keeps the gate loud-proof and exact.
    * No window, no sort, no self-join.
    */
  def ewmaCounts(df: DataFrame, tsMicrosCol: String, horizon: Int = 16,
                 dayMicros: Long = 86400000000L): DataFrame = {
    require(horizon >= 1 && horizon <= 62,
      s"horizon must be in [1, 62], got $horizon")
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val cnt = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("__n"))
    val hi = cnt.agg(max(col("__d")).as("__hi"))
    cnt.crossJoin(broadcast(hi))
      .select(col("__d"), col("__n"), col("__hi"),
        explode(sequence(lit(0), lit(horizon - 1))).as("__j"))
      .filter(col("__d") + col("__j") <= col("__hi"))
      .select((col("__d") + col("__j")).as("day"),
        (col("__n").cast("decimal(38,0)") *
          expr(s"CAST(shiftleft(1L, ${horizon - 1} - __j) " +
            "AS decimal(38,0))")).as("__w"))
      .groupBy(col("day"))
      .agg(sum(col("__w")).cast("long").as("ewma_scaled"))
  }

  /** Autocorrelation of daily row counts at calendar lags 1..`maxLag`
    * — the "is volume self-similar week over week" diagnostic that
    * complements [[dowProfile]] (which fixes the period at 7; ACF
    * finds it). Pairing is CALENDAR lag — day d pairs with day d+ℓ
    * via a join on the day key, so silent days produce no pair
    * (rather than shifting rows as a ROWS-frame lag would — the q199
    * RANGE/ROWS distinction again). Per lag, Pearson r is computed
    * over exact integer accumulators A = nΣxy−ΣxΣy,
    * Vx = nΣx²−(Σx)², Vy likewise, and reported as the SIGNED SQUARE
    * sign(A)·⌊⌊A²/Vx⌋·10⁶/Vy⌋ ppm — [[Profile.spearmanRho2]]'s
    * divide-CHAIN quantization, every intermediate Cauchy–Schwarz-
    * bounded ≤ Vy so Spark's long-returning `div` never truncates.
    * Returns (lag, n_pairs, r2_signed_ppm); degenerate variance
    * (constant series) reports 0.
    *
    * Scale: ONE day-keyed map-side count over the scan (|days| rows
    * out), then a broadcast ≤maxLag× fan-out of that BOUNDED daily
    * frame self-joined on the day key, and one lag-keyed fold. The
    * raw stream is scanned once; no window, no sort.
    */
  def acfDaily(df: DataFrame, tsMicrosCol: String, maxLag: Int = 7,
               dayMicros: Long = 86400000000L): DataFrame = {
    require(maxLag >= 1, s"maxLag >= 1, got $maxLag")
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val D = "decimal(38,0)"
    val cnt = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).cast(D).as("__n"))
    val lags = cnt.sparkSession.range(1, maxLag + 1L)
      .select(col("id").as("lag"))
    cnt.select(col("__d").as("__xd"), col("__n").as("__xv"))
      .crossJoin(broadcast(lags))
      .join(cnt.select(col("__d").as("__yd"), col("__n").as("__yv")),
        col("__yd") === col("__xd") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast(D).as("__n"),
        sum(col("__xv")).as("__sx"), sum(col("__yv")).as("__sy"),
        sum(col("__xv") * col("__yv")).as("__sxy"),
        sum(col("__xv") * col("__xv")).as("__sxx"),
        sum(col("__yv") * col("__yv")).as("__syy"))
      .select(col("lag").cast("long").as("lag"),
        col("__n").cast("long").as("n_pairs"),
        expr(s"""CAST(CASE WHEN (__n * __sxx - __sx * __sx) > 0
            AND (__n * __syy - __sy * __sy) > 0
          THEN (CASE WHEN __n * __sxy - __sx * __sy >= 0
              THEN 1 ELSE -1 END)
            * ((CAST((((__n * __sxy - __sx * __sy)
                * (__n * __sxy - __sx * __sy))
                div (__n * __sxx - __sx * __sx)) AS decimal(38,0))
              * 1000000) div (__n * __syy - __sy * __sy))
          ELSE 0 END AS BIGINT)""").as("r2_signed_ppm"))
      .orderBy(col("lag"))
  }

  /** CROSS-correlation of two daily-count series at calendar lags
    * −maxLag..maxLag — which series LEADS: r²(ℓ) correlates x(d) with
    * y(d+ℓ), so a peak at positive ℓ means x moves first (orders
    * placed → lineitems shipped), the pipeline-lag detector that
    * [[acfDaily]] (x against itself) can't see. Same exact machinery:
    * calendar-keyed pairing (silent days pair with nobody) and the
    * signed-square divide-chain ppm. Returns
    * (lag, n_pairs, r2_signed_ppm) ordered by lag.
    *
    * Scale: one day-keyed map-side count per input (each scanned
    * once), a broadcast (2·maxLag+1)× fan-out of the bounded x daily
    * frame joined to the y daily frame on the day key, one lag-keyed
    * fold.
    */
  def xcfDaily(dfX: DataFrame, tsXMicrosCol: String, dfY: DataFrame,
               tsYMicrosCol: String, maxLag: Int = 3,
               dayMicros: Long = 86400000000L): DataFrame = {
    require(maxLag >= 1, s"maxLag >= 1, got $maxLag")
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val D = "decimal(38,0)"
    def daily(df: DataFrame, c: String) = df
      .select(expr(s"CAST($c AS BIGINT) div $dayMicros").as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).cast(D).as("__n"))
    val cx = daily(dfX, tsXMicrosCol)
    val cy = daily(dfY, tsYMicrosCol)
    val lags = cx.sparkSession.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("lag"))
    cx.select(col("__d").as("__xd"), col("__n").as("__xv"))
      .crossJoin(broadcast(lags))
      .join(cy.select(col("__d").as("__yd"), col("__n").as("__yv")),
        col("__yd") === col("__xd") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast(D).as("__n"),
        sum(col("__xv")).as("__sx"), sum(col("__yv")).as("__sy"),
        sum(col("__xv") * col("__yv")).as("__sxy"),
        sum(col("__xv") * col("__xv")).as("__sxx"),
        sum(col("__yv") * col("__yv")).as("__syy"))
      .select(col("lag").cast("long").as("lag"),
        col("__n").cast("long").as("n_pairs"),
        expr(s"""CAST(CASE WHEN (__n * __sxx - __sx * __sx) > 0
            AND (__n * __syy - __sy * __sy) > 0
          THEN (CASE WHEN __n * __sxy - __sx * __sy >= 0
              THEN 1 ELSE -1 END)
            * ((CAST((((__n * __sxy - __sx * __sy)
                * (__n * __sxy - __sx * __sy))
                div (__n * __sxx - __sx * __sx)) AS decimal(38,0))
              * 1000000) div (__n * __syy - __sy * __sy))
          ELSE 0 END AS BIGINT)""").as("r2_signed_ppm"))
      .orderBy(col("lag"))
  }

  /** Day-of-week × hour-of-day activity heatmap: the 168-cell grid
    * behind [[dowProfile]]'s 7 rows — weekday-shaped AND
    * hour-shaped traffic reads directly (the on-call "when is it
    * safe to deploy" view). Exact epoch arithmetic: dow = (epoch
    * day + 3) mod 7, hour = (epoch µs mod day) div hour. Returns
    * (dow, hr, n, share_ppm).
    *
    * Scale: ONE (dow, hr)-keyed map-side count over the scan —
    * 168 cells; the total rides a one-row broadcast.
    */
  def dowHourHeatmap(df: DataFrame, tsMicrosCol: String): DataFrame = {
    val D = "decimal(38,0)"
    val c = df.select(
        expr(s"pmod(CAST($tsMicrosCol AS BIGINT) div 86400000000 + 3, 7)")
          .as("dow"),
        expr(s"pmod(CAST($tsMicrosCol AS BIGINT), 86400000000) " +
          "div 3600000000").as("hr"))
      .groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("__n"))
    val tot = c.agg(sum(col("__n")).cast(D).as("__t"))
    c.crossJoin(broadcast(tot))
      .select(col("dow").cast("long").as("dow"),
        col("hr").cast("long").as("hr"),
        col("__n").cast("long").as("n"),
        expr(s"(CAST(1000000 AS $D) * __n) div __t").cast("long")
          .as("share_ppm"))
  }

  /** Seasonal STRENGTH of daily counts — the one-way-ANOVA η²:
    * what fraction of day-to-day variance the weekday explains
    * (η² → 1: rigid weekly shape, [[dowProfile]]'s χ² will scream;
    * η² → 0: the weekday tells you nothing and [[seasonalNaiveBacktest]]
    * will show MASE ≈ 1). Exact quantized integers: per-weekday
    * within-variance terms ⌊10⁶·(n_w·Σx²−(Σx)²)/n_w⌋ and the total
    * term ⌊10⁶·(m·Σx²−(Σx)²)/m⌋, η²ppm = 10⁶ − ⌊10⁶·SSE/SST⌋ — the
    * floors are mirrored verbatim (quantization may shave ±|groups|
    * µ-units; the chain IS the statistic). Returns one row
    * (n_days, sst_micro, sse_micro, eta2_ppm).
    *
    * Scale: one day-keyed map-side count, a 7-cell rollup, one
    * scalar fold.
    */
  def seasonalStrength(df: DataFrame, tsMicrosCol: String,
                       dayMicros: Long = 86400000000L): DataFrame = {
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val D = "decimal(38,0)"
    val cnt = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).cast(D).as("__n"))
    val tot = cnt.agg(count(lit(1)).cast(D).as("__m"),
        sum(col("__n")).as("__s"),
        sum(col("__n") * col("__n")).as("__s2"))
      .select(col("__m"),
        expr(s"""(CAST(1000000 AS $D) * (__m * __s2 - __s * __s))
          div __m""").as("__sst"))
    val sse = cnt
      .groupBy(expr("pmod(__d + 3, 7)").as("__w"))
      .agg(count(lit(1)).cast(D).as("__nw"),
        sum(col("__n")).as("__sw"),
        sum(col("__n") * col("__n")).as("__sw2"))
      .select(expr(s"""(CAST(1000000 AS $D)
        * (__nw * __sw2 - __sw * __sw)) div __nw""").as("__e"))
      .agg(sum(col("__e")).as("__sse"))
    tot.crossJoin(broadcast(sse))
      .select(col("__m").cast("long").as("n_days"),
        col("__sst").cast("long").as("sst_micro"),
        col("__sse").cast("long").as("sse_micro"),
        expr(s"""CAST(CASE WHEN __sst > 0
          THEN 1000000 - ((CAST(1000000 AS $D) * __sse) div __sst)
          ELSE 0 END AS BIGINT)""").as("eta2_ppm"))
  }

  /** Period-over-period delta: per period (year, month, week — any
    * integer period key the caller derives), the row count, summed
    * value, and the SIGNED ppm change versus the previous period —
    * sign split before the floor (the engines disagree on negative
    * division), NULL for the first period and after a zero base (a
    * delta off zero is undefined, not infinite). Returns
    * (period, n, value, delta_ppm) — the YoY/MoM table every revenue
    * review opens with.
    *
    * Scale: one period-keyed map-side rollup, then a lag window over
    * the bounded period grid.
    */
  def periodDelta(df: DataFrame, periodCol: String,
                  valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    df.filter(col(periodCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(periodCol).cast("long").as("period"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col(valueCol).cast("long").cast(D)).as("__v"))
      .withColumn("__prev",
        lag(col("__v"), 1).over(Window.orderBy(col("period"))))
      .select(col("period"), col("n"),
        col("__v").cast("long").as("value"),
        expr(s"""CAST(CASE WHEN __prev IS NOT NULL AND __prev > 0
          THEN (CASE WHEN __v >= __prev THEN 1 ELSE -1 END)
            * ((CAST(1000000 AS $D) * (CASE WHEN __v >= __prev
                THEN __v - __prev ELSE __prev - __v END)) div __prev)
          END AS BIGINT)""").as("delta_ppm"))
  }

  /** Seasonal-naive forecast backtest on daily counts: compares the
    * weekly seasonal-naive forecast (ŷ(d) = y(d−7)) against the naive
    * one (ŷ(d) = y(d−1)) by total absolute error, reporting the
    * MASE-style ratio ⌊10⁶·MAE₇/MAE₁⌋ — under 10⁶ means the weekly
    * pattern genuinely predicts (use it); ~10⁶ means the series is
    * memoryless at a week. All exact integers: |Δ| via a sign split,
    * the ratio one guarded division of decimal(38,0) products
    * (quotient ~ the MAE ratio — bounded in practice; a degenerate
    * MAE₁ = 0 reports 0). Calendar joins — silent days produce no
    * forecast pair. Returns one row (n_seasonal, abs_err_seasonal,
    * n_naive, abs_err_naive, mase_ppm).
    *
    * Scale: one day-keyed map-side count, two self-joins of the
    * BOUNDED daily frame on shifted day keys, one scalar fold.
    */
  def seasonalNaiveBacktest(df: DataFrame, tsMicrosCol: String,
                            period: Int = 7,
                            dayMicros: Long = 86400000000L): DataFrame = {
    require(period >= 2, s"period >= 2, got $period")
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val D = "decimal(38,0)"
    val cnt = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("__n"))
    def err(shift: Int) = cnt
      .select(col("__d").as("__da"), col("__n").as("__na"))
      .join(cnt.select(col("__d").as("__db"), col("__n").as("__nb")),
        col("__da") === col("__db") + shift)
      .agg(count(lit(1)).cast(D).as("n"),
        sum(expr(s"""CAST(CASE WHEN __na >= __nb THEN __na - __nb
          ELSE __nb - __na END AS $D)""")).as("s"))
    err(period).select(col("n").as("__n7"), col("s").as("__s7"))
      .crossJoin(err(1).select(col("n").as("__n1"),
        col("s").as("__s1")))
      .select(col("__n7").cast("long").as("n_seasonal"),
        col("__s7").cast("long").as("abs_err_seasonal"),
        col("__n1").cast("long").as("n_naive"),
        col("__s1").cast("long").as("abs_err_naive"),
        expr(s"""CAST(CASE WHEN __s1 > 0
          THEN (CAST(1000000 AS $D) * __s7 * __n1)
            div (__s1 * __n7)
          ELSE 0 END AS BIGINT)""").as("mase_ppm"))
  }

  /** Exact higher central moments of daily counts — skewness and
    * kurtosis over the bounded day frame, the tail-shape companions
    * to [[dowAdjustedOutliers]] (MAD says WHICH days are odd; these
    * say whether the whole series is lopsided or heavy-tailed).
    * From raw power sums S1..S4: M2 = m·S2−S1² (= m²·variance),
    * A3 = m²·S3−3m·S1·S2+2S1³ (= m³·Σ(x−x̄)³),
    * A4 = m³·S4−4m²·S1·S3+6m·S1²·S2−3S1⁴ (= m⁴·Σ(x−x̄)⁴ · m⁻¹ —
    * scalings chosen so skew² = A3²/M2³ and kurtosis = A4/M2²
    * exactly). Reports sign(A3)·⌊⌊⌊A3/M2⌋·|A3|/M2⌋·10⁶/M2⌋ and
    * ⌊⌊A4/M2⌋·10⁶/M2⌋ — divide CHAINS whose every quotient is
    * moment-bounded (skew² ≤ m, kurt ≤ m by Cauchy–Schwarz), so
    * Spark's long-returning `div` never truncates; the floor-then-
    * multiply chain is mirrored verbatim in the oracle (both floors
    * identical — the chain IS the definition, not an approximation
    * of the real-valued moment). Returns one row
    * (n_days, skew2_signed_ppm, kurt_ppm).
    *
    * Range contract: power sums S4 ≤ m·x⁴ must fit decimal(38,0) ⇄
    * HUGEINT — fine through m ~ 10⁵ days of x ~ 10⁷ rows/day. The
    * chains' INTERMEDIATE quotients are bounded by moment·M2 (M2 =
    * m²·variance), which must stay under 2⁶³ for `div`'s long
    * return: holds whenever m²·var ≲ 10¹⁷ — any practical day frame
    * (decades of days, millions of rows/day); for wider frames,
    * rescale counts to thousands first (documented, not silent).
    *
    * Scale: ONE day-keyed map-side count, one scalar fold.
    */
  def momentsDaily(df: DataFrame, tsMicrosCol: String,
                   dayMicros: Long = 86400000000L): DataFrame = {
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    val D = "decimal(38,0)"
    df.select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).cast(D).as("__n"))
      .agg(count(lit(1)).cast(D).as("__m"),
        sum(col("__n")).as("__s1"),
        sum(col("__n") * col("__n")).as("__s2"),
        sum(col("__n") * col("__n") * col("__n")).as("__s3"),
        sum(col("__n") * col("__n") * col("__n") * col("__n"))
          .as("__s4"))
      .select(col("__m"),
        expr("__m * __s2 - __s1 * __s1").as("__m2"),
        expr("__m * __m * __s3 - 3 * __m * __s1 * __s2 " +
          "+ 2 * __s1 * __s1 * __s1").as("__a3"),
        expr("__m * __m * __m * __s4 - 4 * __m * __m * __s1 * __s3 " +
          "+ 6 * __m * __s1 * __s1 * __s2 " +
          "- 3 * __s1 * __s1 * __s1 * __s1").as("__a4"))
      .select(
        col("__m").cast("long").as("n_days"),
        // sign split FIRST: every div sees a NON-NEGATIVE dividend
        // (DuckDB // floors toward -inf, Spark div truncates toward
        // zero — they disagree on negatives by one); A4 is a sum of
        // fourth powers, never negative
        expr(s"""CAST(CASE WHEN __m2 > 0
          THEN (CASE WHEN __a3 >= 0 THEN 1 ELSE -1 END)
            * ((CAST((CAST(ABS(__a3) div __m2 AS $D) * ABS(__a3))
                div __m2 AS $D) * 1000000) div __m2)
          ELSE 0 END AS BIGINT)""").as("skew2_signed_ppm"),
        expr(s"""CAST(CASE WHEN __m2 > 0
          THEN (CAST(__a4 div __m2 AS $D) * 1000000) div __m2
          ELSE 0 END AS BIGINT)""").as("kurt_ppm"))
  }

  /** Weekday-adjusted anomaly days: each day's count is normalized by
    * its WEEKDAY's mean (the [[dowProfile]] seasonality removed —
    * resid_ppm = ⌊10⁶·n·days(dow)/Σn(dow)⌋, exactly 10⁶ at the
    * weekday mean), then the residual series is screened by the
    * median-absolute-deviation rule (the [[Profile.madOutliers]]
    * convention: flag |r − median| > k·MAD, rank-cut medians with
    * (value, day) tie order so both engines pick the same row) —
    * "was Tuesday big FOR A TUESDAY", the 3am-feed volume monitor
    * that a raw z-score gets wrong on weekly-shaped traffic.
    * Returns (day, n, resid_ppm, flagged) for every active day.
    *
    * Scale: ONE day-keyed map-side count over the scan; everything
    * downstream (7-row weekday frame, two rank-cut windows over the
    * |days| frame) is bounded — the exact audit form (GK swap at
    * 10⁵+ days, documented not silent).
    */
  def dowAdjustedOutliers(df: DataFrame, tsMicrosCol: String,
                          kMad: Long = 3L,
                          dayMicros: Long = 86400000000L): DataFrame = {
    require(kMad >= 1, s"kMad >= 1, got $kMad")
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    val daily = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("__n"))
    val ds = daily
      .groupBy(expr("pmod(__d + 3, 7)").as("__dow"))
      .agg(count(lit(1)).cast(D).as("__days"),
        sum(col("__n")).cast(D).as("__sum"))
    val resid = daily
      .join(broadcast(ds), expr("pmod(__d + 3, 7)") === col("__dow"))
      .select(col("__d"), col("__n"),
        expr(s"CAST((CAST(1000000 AS $D) * __n * __days) div __sum " +
          "AS BIGINT)").as("__r"))
    val m = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val med = resid
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__r"), col("__d"))))
      .withColumn("__m", count(lit(1)).over(m))
      .filter(col("__rn") === expr("(__m + 1) div 2"))
      .select(col("__r").as("__med"))
    val dev = resid.crossJoin(broadcast(med))
      .withColumn("__dv", abs(col("__r") - col("__med")))
    val mad = dev
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__dv"), col("__d"))))
      .withColumn("__m", count(lit(1)).over(m))
      .filter(col("__rn") === expr("(__m + 1) div 2"))
      .select(col("__dv").as("__mad"))
    dev.crossJoin(broadcast(mad))
      .select(col("__d").cast("long").as("day"),
        col("__n").cast("long").as("n"),
        col("__r").as("resid_ppm"),
        when(col("__dv") > lit(kMad) * col("__mad"), 1L).otherwise(0L)
          .as("flagged"))
  }

  /** Theil–Sen robust trend of daily row counts (Theil 1950 / Sen
    * 1968): the median over all day pairs (d₁ < d₂) of the pairwise
    * slope (n₂−n₁)/(d₂−d₁) — the outlier-immune "is volume trending"
    * estimator (one anomalous day corrupts OLS; the pairwise median
    * shrugs it off, breakdown point 29%). Slopes quantize exactly as
    * sign(Δy)·⌊10⁶·|Δy|/Δx⌋ — sign extracted FIRST so both engines
    * floor a NON-NEGATIVE quotient (DuckDB `//` floors toward −∞
    * where Spark `div` truncates toward zero; on negatives they
    * disagree by one). Returns one row (n_days, n_pairs,
    * slope_p10_ppm, slope_ppm, slope_p90_ppm) — the p10/p90 pairwise-
    * slope band is the robust trend envelope; ranks cut at
    * ⌊(m+1)/10⌋∨1, ⌊(m+1)/2⌋, ⌊9(m+1)/10⌋ (lower median, documented).
    *
    * Scale: ONE day-keyed map-side count (|days| rows), then the
    * |days|²/2 pairwise self-join — the EXACT audit form over the
    * bounded day frame (2 400 days → 2.9M pairs; the [[Profile]]
    * bounded-frame contract). The rank cut is one global ordered
    * window over those pairs.
    */
  def theilSen(df: DataFrame, tsMicrosCol: String,
               dayMicros: Long = 86400000000L): DataFrame = {
    require(dayMicros > 0, s"dayMicros must be positive, got $dayMicros")
    import org.apache.spark.sql.expressions.Window
    val cnt = df
      .select(expr(s"CAST($tsMicrosCol AS BIGINT) div $dayMicros")
        .as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("__n"))
    val nDays = cnt.agg(count(lit(1)).as("__nd"))
    // LONG slope arithmetic, not decimal(38,0): 10⁶·|Δn| stays inside
    // a long for any daily count < 9.2·10¹², and ANSI mode errors
    // loudly (never wraps) beyond that — per-row BigDecimal math cost
    // 2.4 s of this operator's 4.8 s at sf0.1, for identical values
    // (long `div` ≡ decimal div on these non-negative dividends)
    val slopes = cnt.select(col("__d").as("__d1"), col("__n").as("__n1"))
      .join(cnt.select(col("__d").as("__d2"), col("__n").as("__n2")),
        col("__d1") < col("__d2"))
      .select(expr("""(CASE WHEN __n2 >= __n1 THEN 1 ELSE -1 END)
          * ((1000000L * (CASE WHEN __n2 >= __n1 THEN __n2 - __n1
                 ELSE __n1 - __n2 END))
            div (__d2 - __d1))""").as("__s"))
    val w = Window.orderBy(col("__s"))
    // pair count in closed form — slopes is exactly C(n_days, 2), so
    // the former full-frame count WINDOW (a second buffering pass over
    // every slope row in the one sorted partition) folds into the
    // already-computed day count
    val mRow = nDays.select(expr("__nd * (__nd - 1) div 2").as("__m"))
    // Measured round 15: [[Ranks.twoPass]] is the WRONG tool here —
    // the pair frame is emitted by ONE BroadcastNestedLoopJoin task
    // regardless (generation is serial either way), and slope values
    // concentrate near 0, so equi-width buckets collapse into one
    // skewed reducer while paying an extra full shuffle of the pair
    // frame (62 s vs 2.7 s at sf0.1). The single-partition window over
    // the BOUNDED day-pair frame stays.
    slopes
      .crossJoin(broadcast(mRow))
      .withColumn("__r", row_number().over(w))
      .agg(
        max(col("__m")).cast("long").as("n_pairs"),
        max(when(col("__r") ===
          expr("greatest(CAST(1 AS BIGINT), (__m + 1) div 10)"),
          col("__s"))).cast("long").as("slope_p10_ppm"),
        max(when(col("__r") === expr("(__m + 1) div 2"), col("__s")))
          .cast("long").as("slope_ppm"),
        max(when(col("__r") === expr("(9 * (__m + 1)) div 10"),
          col("__s"))).cast("long").as("slope_p90_ppm"))
      .crossJoin(broadcast(nDays))
      .select(col("__nd").cast("long").as("n_days"),
        col("n_pairs"), col("slope_p10_ppm"), col("slope_ppm"),
        col("slope_p90_ppm"))
  }
}
