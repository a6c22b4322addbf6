package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Customer segmentation surfaces over a transaction table — the
  * marketing-analytics counterpart of the event funnels (the reference
  * pipelines profile listings per area the same way; SURVEY.md §2.4
  * A2's profile-ratio family applied to the buyer axis).
  */
object Segments {

  /** RFM quintile segmentation (Hughes 1994, the standard direct-
    * marketing form): per customer compute Recency (whole days from
    * their last transaction to the table's max date — an exact
    * `div` on epoch micros), Frequency (transaction count) and
    * Monetary (exact cents: `round(amount·100)` per row, summed as
    * longs), then grade each axis into quintiles with `NTILE(5)`
    * over a tie-free order (metric, then customer key — best grade
    * 1). Returns one row per (r_q, f_q, m_q) cell:
    * (r_q, f_q, m_q, n_customers, sum_m_cents).
    *
    * Scale: the per-customer rollup is ONE customer-keyed aggregate
    * with map-side partials over the transaction scan; the anchor
    * date is a one-row broadcast (the q114 N/V precedent). The three
    * NTILE grades are TWO-PASS global ranks over the PER-CUSTOMER
    * frame ([[Ranks.ntile]]: partitioned rank + broadcast bucket
    * offsets — bit-equal to the single-partition NTILE window, no
    * one-task sort), so the exact grading scales with the customer
    * frame and needs no approximate twin. The cell report is ≤ 125
    * rows.
    */
  def rfm(tx: DataFrame, custCol: String, tsMicrosCol: String,
          amountCol: String, tiles: Int = 5): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    val per = tx.select(col(custCol).as("__c"),
        col(tsMicrosCol).cast("long").as("__t"),
        round(col(amountCol) * 100, 0).cast("long").as("__cents"))
      .groupBy(col("__c"))
      .agg(max(col("__t")).as("__last"),
        count(lit(1)).as("f_n"),
        sum(col("__cents")).as("m_cents"))
    val anchor = per.agg(max(col("__last")).as("__a"))
    val base = per.crossJoin(broadcast(anchor))
      .withColumn("r_days",
        expr("(__a - __last) div 86400000000"))
    // all three grades in ONE fused multi-axis pass ([[Ranks.ntileMulti]]):
    // one checkpoint of the per-customer frame, one bounds row, one
    // unioned bucket-stats aggregation; the three rank windows remain
    // (three orders = three sorts, same as the window form)
    def ax(metric: String, asc: Boolean, out: String): Ranks.Axis = {
      val m = if (asc) col(metric) else col(metric).desc
      Ranks.Axis(col(metric), asc, Seq(m, col("__c")), tiles, out)
    }
    val scored = Ranks.ntileMulti(base, Seq(
      ax("r_days", asc = true, "r_q"),
      ax("f_n", asc = false, "f_q"),
      ax("m_cents", asc = false, "m_q")))
    scored.groupBy(col("r_q").cast("long").as("r_q"),
        col("f_q").cast("long").as("f_q"),
        col("m_q").cast("long").as("m_q"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum(col("m_cents")).cast("long").as("sum_m_cents"))
  }

  /** Activity-decile value concentration — "the top 10% of users
    * drive X% of revenue": rank users into `tiles` NTILE buckets by
    * activity (event count desc, tie-free on the user key, decile 1 =
    * most active) and report each decile's user count, activity,
    * exact value sum and exact ppm share of total value. The Pareto
    * report every engagement review opens with. Returns
    * (decile, n_users, n_events, rev_cents, rev_share_ppm).
    *
    * Scale: one user-keyed rollup (map-side combined) then the NTILE
    * grade as a TWO-PASS global rank over the per-USER frame
    * ([[Ranks.ntile]], bit-equal to the window NTILE without the
    * one-task sort); the total rides a one-row broadcast; products in
    * decimal(38,0). Output is `tiles` rows.
    */
  def activityDeciles(events: DataFrame, userCol: String,
                      typeCol: String, centsCol: String,
                      conversionType: String = "purchase",
                      tiles: Int = 10): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    require(conversionType.nonEmpty, "conversionType must be non-empty")
    val D = "decimal(38,0)"
    val act = events.select(col(userCol).as("__u"),
        col(typeCol).as("__ty"), col(centsCol).cast("long").as("__c"))
      .groupBy(col("__u"))
      .agg(count(lit(1)).as("__ne"),
        sum(when(col("__ty") === conversionType, col("__c"))
          .otherwise(0L)).as("__rev"))
    val d = Ranks.ntile(act, col("__ne"), asc = false,
      Seq(col("__ne").desc, col("__u")), tiles, "decile")
    val tot = d.agg(sum(col("__rev")).as("__tr"))
    d.crossJoin(broadcast(tot))
      .groupBy(col("decile").cast("long").as("decile"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("__ne")).cast("long").as("n_events"),
        sum(col("__rev")).cast("long").as("rev_cents"),
        when(max(col("__tr")) > 0,
          expr(s"(CAST(1000000 AS $D) * SUM(__rev)) div MAX(__tr)"))
          .otherwise(lit(0L)).cast("long").as("rev_share_ppm"))
  }
}
