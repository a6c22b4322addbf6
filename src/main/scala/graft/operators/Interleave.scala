package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic source-interleaved training order — the data-blending
  * schedule (Megatron-LM-style): given integer mixture parts per
  * source, emit a per-row integer `sched_key` whose global ascending
  * order interleaves sources so EVERY prefix of the schedule holds
  * each source's share to within one row of its target weight (the
  * classic stride schedule: row r of source s sorts at
  * `(2r−1)·L/w_s`, L = lcm of the parts — exact longs, no float
  * drift, reproducible across runs and engines). Downstream training
  * readers sort by the key; the whole-corpus total order is THEIR
  * range-partitioned sort — this operator never globally sorts or
  * ranks. North-star operator — the reference has no training-order
  * scheduling.
  *
  * Scale design: the per-source rank that drives the stride is
  * computed stratified, not with one window partition per source (a
  * source holding half the corpus would funnel into one sort task —
  * the q63 lesson): rows rank within (source, stratum) — stratum =
  * [[Sampling.hashBucket]] mod `strata`, so the composite
  * (stratum, bucket, id) order is itself a deterministic hash order —
  * and per-stratum offsets come from a bounded (sources × strata)-row
  * count aggregate whose running sum BROADCASTS back. ONE corpus-scale
  * exchange on (source, stratum), reused by the count; nothing global.
  */
object Interleave {

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
  private def lcm(a: Long, b: Long): Long = a / gcd(a, b) * b

  /** The per-source stride L/w_s (L = lcm of the parts) — the ONE
    * derivation both [[scheduleMix]] and any SQL mirror build from, so
    * the two can't drift.
    */
  def strides(parts: Map[String, Int]): Map[String, Long] = {
    require(parts.nonEmpty, "parts must be non-empty")
    require(parts.values.forall(_ > 0),
      s"every part must be positive, got $parts")
    val L = parts.values.map(_.toLong).reduce(lcm)
    parts.map { case (s, w) => s -> L / w }
  }

  /** The schedule: (idCol, sourceCol, src_rank, sched_key), unordered —
    * sort by (sched_key, sourceCol, idCol) to materialize the training
    * order. `parts` are integer mixture weights (e.g. 3:1
    * oversampling = 3 and 1); rows whose source has no part (or a NULL
    * source) are excluded — compose with [[Sampling.mixDomains]] for
    * rate-based selection first. `idCol` must be unique and non-null:
    * it is the schedule identity and the deterministic tie-break. Key
    * headroom: max key ≈ 2·N_s·L/w_s — overflow needs a per-source row
    * count beyond 2^62/L, unreachable for sane parts.
    */
  def scheduleMix(df: DataFrame, idCol: String, sourceCol: String,
                  parts: Map[String, Int], salt: String = "interleave",
                  strata: Int = 64): DataFrame = {
    require(strata >= 1, s"strata must be >= 1, got $strata")
    val srcs = parts.keys.toSeq.sorted
    val strideOf = strides(parts)
    // the stride rides as a literal when-chain — no join for the map
    // (same shape as temperatureMix's rate map)
    val stride = srcs.foldLeft(lit(null).cast("long")) { case (acc, s) =>
      when(col(sourceCol) === s, lit(strideOf(s))).otherwise(acc)
    }
    val based = df.filter(col(sourceCol).isin(srcs: _*))
      .withColumn("__bucket", Sampling.hashBucket(col(idCol), salt))
      .withColumn("__stratum",
        pmod(col("__bucket"), lit(strata.toLong)))
    val wLocal = Window.partitionBy(col(sourceCol), col("__stratum"))
      .orderBy(col("__bucket"), col(idCol))
    // exclusive running count over the tiny per-(source, stratum)
    // aggregate = each stratum's rank offset within its source
    val wOff = Window.partitionBy(col(sourceCol))
      .orderBy(col("__stratum"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = based.groupBy(col(sourceCol), col("__stratum"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .select(col(sourceCol).as("__os"), col("__stratum").as("__ot"),
        col("__off"))
    based.withColumn("__lr", row_number().over(wLocal))
      .join(broadcast(offsets),
        col(sourceCol) === col("__os") && col("__stratum") === col("__ot"))
      .withColumn("src_rank", col("__off") + col("__lr"))
      .withColumn("sched_key", (col("src_rank") * 2 - 1) * stride)
      .select(col(idCol), col(sourceCol), col("src_rank"),
        col("sched_key"))
  }
}
