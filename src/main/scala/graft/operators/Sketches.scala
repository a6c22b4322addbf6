package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic distinct-cardinality sketch (KMV / bottom-k): track the
  * k smallest values of a uniform hash of the key; with m distinct keys
  * the k-th minimum sits near k/m of the hash space, so
  * m̂ = (k−1) · SPACE / kth_min. The classic alternative (HLL,
  * `approx_count_distinct`) is register-layout-specific and cannot be
  * verified by another engine; KMV over an md5-derived hash is exactly
  * reproducible anywhere — the estimate itself is under the oracle gate
  * (q53), not just "approximately right".
  *
  * Scale shape: hash projection (narrow) → distinct (one exchange,
  * map-side combine) → per-group bottom-k (row_number ≤ k gets Spark's
  * WindowGroupLimit rewrite: only k rows per group per partition reach
  * the exchange) → tiny per-group aggregate. Sketch state is k longs
  * per group regardless of m.
  */
object Sketches {

  /** 2^60 — hash space for the 15-hex-char md5 prefix (fits a positive
    * long; 60 bits keeps collisions negligible far past 10^8 distinct).
    */
  val KmvSpace: Double = 1152921504606846976.0

  /** Uniform 60-bit hash of a key column — [[Sampling.hashBucket]] at
    * full 15-hex-char width (one shared hashing convention).
    */
  def hash60(key: Column, salt: String): Column =
    Sampling.hashBucket(key, salt, hexChars = 15)

  /** PRODUCTION path: per-group distinct-count estimate with NO exact
    * count. The bottom-k filter is the only window, so Spark's
    * WindowGroupLimit rewrite prunes to k rows per group per partition
    * BEFORE the exchange — a giant group ships k hashes, never its full
    * distinct set. Groups that kept fewer than k hashes are exact by
    * construction (everything survived the filter), so `est` is still
    * exact below k without any unbounded-frame count.
    * Output: (groupCols…, kth_min, est).
    */
  def kmvEstimate(df: DataFrame, groupCols: Seq[String], keyCol: String,
                  k: Int, salt: String): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val hashed = df
      .select((groupCols.map(col) :+
        hash60(col(keyCol), salt).as("__h")): _*)
      .distinct()
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__h"))
    val bottomK = hashed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    bottomK.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__kept"), max(col("__h")).as("kth_min"))
      .withColumn("est",
        when(col("__kept") < k, col("__kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(KmvSpace) /
            col("kth_min").cast("double")))
      .drop("__kept")
  }

  /** VERIFICATION form (the q53 oracle): the estimate alongside the
    * exact distinct count it is certified against. The exact side rides
    * a frame-less window that necessarily pushes each group's FULL
    * distinct-hash set through one window partition — that defeats the
    * sketch's point at scale, so this form is for audits/oracles only;
    * production pipelines use [[kmvEstimate]].
    * Output: (groupCols…, n_exact, kth_min, est).
    */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], keyCol: String,
                  k: Int, salt: String): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val hashed = df
      .select((groupCols.map(col) :+
        hash60(col(keyCol), salt).as("__h")): _*)
      .distinct()
    // exact count rides along from a frame-less window over the same
    // partitioning (no extra exchange) and MUST be computed before the
    // bottom-k filter prunes rows
    val withN = hashed.withColumn("n_exact",
      count(lit(1)).over(Window.partitionBy(groupCols.map(col): _*)))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__h"))
    val bottomK = withN
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    bottomK.groupBy(groupCols.map(col): _*)
      .agg(max(col("n_exact")).as("n_exact"), max(col("__h")).as("kth_min"))
      // groups with fewer than k distinct keys are exact, not estimated
      .withColumn("est",
        when(col("n_exact") < k, col("n_exact").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(KmvSpace) /
            col("kth_min").cast("double")))
  }

  /** Pairwise set-RESEMBLANCE (Jaccard) estimates between group
    * key-sets from their KMV bottom-k signatures (Broder 1997, "On
    * the resemblance and containment of documents"): for each group
    * pair, U = the k smallest hashes of the UNION of the two
    * signatures and est = |U ∩ A ∩ B| / |U| — the one-sketch-per-
    * group answer to "which sources share vocabulary / fingerprints"
    * without any pairwise corpus scan. The md5-derived hashes make
    * the ESTIMATE itself reproducible in SQL (q146 gates it), unlike
    * an opaque minhash library.
    *
    * Exact-integer output: m = |U|, inter = |U ∩ A ∩ B|, res_ppm =
    * 10⁶·inter div m (non-negative — `div` ⇄ `//` agree).
    *
    * Scale shape: the sketch build is [[kmvEstimate]]'s
    * WindowGroupLimit shape (k rows per group cross the ONE
    * exchange); the pairwise stage is |groups|²·k ARRAY work over the
    * collected signatures — groups are sources/domains/shards
    * (bounded metadata), never corpus rows. Groups with no keys have
    * no signature and appear in no pair.
    * Output: (g_a, g_b, m, inter, res_ppm) with g_a < g_b.
    */
  def kmvResemblance(df: DataFrame, groupCol: String, keyCol: String,
                     k: Int, salt: String): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val hashed = df
      .select(col(groupCol).as("__g"),
        hash60(col(keyCol), salt).as("__h"))
      .distinct()
    val w = Window.partitionBy(col("__g")).orderBy(col("__h"))
    val sig = hashed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col("__g"))
      .agg(sort_array(collect_list(col("__h"))).as("__sig"))
    val a = sig.select(col("__g").as("g_a"), col("__sig").as("__sa"))
    val b = sig.select(col("__g").as("g_b"), col("__sig").as("__sb"))
    a.join(b, col("g_a") < col("g_b"))
      .withColumn("__u",
        slice(array_sort(array_union(col("__sa"), col("__sb"))), 1, k))
      .withColumn("m", size(col("__u")).cast("long"))
      .withColumn("inter", size(array_intersect(col("__u"),
        array_intersect(col("__sa"), col("__sb")))).cast("long"))
      .withColumn("res_ppm", expr("CAST((1000000 * inter) div m AS BIGINT)"))
      .select(col("g_a"), col("g_b"), col("m"), col("inter"),
        col("res_ppm"))
  }

  /** The ONE (bucket, rho) convention of [[hllRegisters]], which the
    * q108 oracle mirrors. Bucket: first 16 hash bits mod 2^p;
    * rho: leading-zero count of an independent 48-bit hash, + 1, by
    * hex-char CASE arithmetic.
    */
  private def hllBucketRho(key: Column, p: Int,
                           salt: String): (Column, Column) = {
    val m = 1L << p
    val bucket = pmod(Sampling.hashBucket(key, s"$salt:b",
      hexChars = 4), lit(m))
    // independent hash for the rank: 12 hex chars = 48 bits
    val sub = substring(md5(concat_ws(":", lit(s"$salt:r"),
      coalesce(key.cast("string"), lit(Sampling.NullKey)))), 1, 12)
    val z = length(regexp_extract(sub, "^0*", 0))
    val nxt = substr(sub, z + lit(1), lit(1))
    val lzd = when(nxt === "1", 3)
      .when(nxt.isin("2", "3"), 2)
      .when(nxt.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    val rho = when(z === 12, lit(49L))
      .otherwise((z * 4 + lzd + 1).cast("long"))
    (bucket, rho)
  }

  /** HyperLogLog register relation (Flajolet et al. 2007) — the
    * distinct sketch whose STATE is 2^p bytes per group versus KMV's
    * k longs: registers merge by `max`, so shards, days, or ingest
    * batches combine with one grouped aggregate and the sketch
    * never revisits data. Unlike `approx_count_distinct` (whose
    * HLL++ register layout is Spark-private and unverifiable), every
    * piece here is the engine's portable md5 algebra: bucket = first
    * 16 hash bits mod 2^p, rho = leading-zero count of an INDEPENDENT
    * 48-bit hash + 1, computed by hex-char CASE arithmetic that any
    * SQL engine reproduces bit-for-bit (q108 gates it in DuckDB).
    *
    * Scale shape: narrow projection → grouped max (map-side combine
    * collapses each partition to ≤ 2^p registers per group before the
    * ONE exchange — the mergeability argument, same as CMS/MG).
    * Output: (groupCols…, bucket, m) for OBSERVED buckets; absent
    * bucket ⇒ register 0.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], keyCol: String,
                   p: Int, salt: String): DataFrame = {
    require(p >= 4 && p <= 14, s"HLL p in [4,14], got $p")
    val (bucket, rho) = hllBucketRho(col(keyCol), p, salt)
    df.select((groupCols.map(col) :+ bucket.as("bucket") :+
        rho.as("rho")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("m"))
  }

  /** The HLL raw estimate from a register relation, in EXACT integer
    * arithmetic so any engine agrees to the last digit: the harmonic
    * denominator Σ 2^−M_j is scaled by 2^49 (every term is then an
    * integer ≤ 2^48, summed in decimal(38,0) — no float
    * order-dependence), and est = ⌊α_m·m²·2^49 / S⌋ with α_m as the
    * published exact rational (673/1000, 697/1000, 709/1000 for
    * m = 16/32/64; 0.7213/(1+1.079/m) = 7213·m/(10·(1000m+1079))
    * above). The small-range linear-counting correction
    * (m·ln(m/V), transcendental — not cross-engine-gateable) is
    * deliberately NOT folded in: `v_empty` is emitted so a consumer
    * can apply it; below ~2.5m the raw `est` reads high (documented
    * HLL behavior), and the q108 gate checks the ALGEBRA, with
    * accuracy pinned separately by spec on a large-n fixture.
    * Output: (groupCols…, v_empty, s_scaled, est).
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String],
                  p: Int): DataFrame = {
    require(p >= 4 && p <= 14, s"HLL p in [4,14], got $p")
    val m = 1L << p
    val (n0, d0): (BigInt, BigInt) =
      if (p >= 7) (BigInt(7213) * BigInt(m).pow(3) * BigInt(2).pow(49),
        BigInt(10) * (BigInt(1000) * m + 1079))
      else {
        val a = p match { case 4 => 673; case 5 => 697; case 6 => 709 }
        (BigInt(a) * BigInt(m).pow(2) * BigInt(2).pow(49), BigInt(1000))
      }
    val two49 = new java.math.BigDecimal(BigInt(2).pow(49).bigInteger)
    registers.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__present"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(49 - m AS INT))" +
          " AS DECIMAL(38,0))")).as("__sp"))
      .withColumn("v_empty", lit(m) - col("__present"))
      .withColumn("s_scaled",
        col("__sp") + col("v_empty").cast("decimal(38,0)") * lit(two49))
      .withColumn("est",
        expr(s"CAST(CAST('$n0' AS DECIMAL(38,0)) DIV " +
          s"(CAST('$d0' AS DECIMAL(38,0)) * s_scaled) AS BIGINT)"))
      .select((groupCols.map(col) :+ col("v_empty") :+
        col("s_scaled").cast("decimal(38,0)").as("s_scaled") :+
        col("est")): _*)
  }

  /** Per-depth-row CMS cell of a key: (row, bucket) with
    * bucket = hashBucket(key, "salt:j") mod width — the ONE convention
    * [[cmsBuild]] and [[cmsEstimate]] share (and the q99 oracle
    * mirrors), so an estimate can only read the cells the build wrote.
    */
  private[graft] def cmsCells(key: Column, depth: Int, width: Int,
                              salt: String): Column =
    array((0 until depth).map(j =>
      struct(lit(j).as("row"),
        pmod(Sampling.hashBucket(key, s"$salt:$j"), lit(width))
          .as("bucket"))): _*)

  /** Count-min sketch build (Cormode & Muthukrishnan 2005): a
    * depth×width grid of counters; each key occurrence increments one
    * md5-derived bucket per depth row. Completes the mergeable-sketch
    * family — KMV (distinct), Misra–Gries (heavy hitters), bloom
    * (membership), CMS (point frequency) — and like the others is
    * EXACTLY reproducible in any engine (md5 buckets, integer counts).
    *
    * Scale shape: the explode is narrow and the hash-agg's map-side
    * partial collapses each partition to ≤ depth·width cells before
    * the ONE exchange — sketch traffic is independent of corpus size
    * (the CMS mergeability property, same argument as `graft_mg`).
    * Returns the sketch relation (row, bucket, c); absent cells are
    * zero.
    */
  def cmsBuild(df: DataFrame, keyCol: String, depth: Int, width: Int,
               salt: String): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth in [1,16], got $depth")
    require(width >= 2, s"width >= 2, got $width")
    df.select(explode(cmsCells(col(keyCol), depth, width, salt)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** CMS point-frequency estimates for a key relation: each key reads
    * its depth cells and takes the min (absent cell = 0) — the classic
    * upward-biased estimate, est ≥ true count always, overshoot bounded
    * by the collision mass e·N/width with probability 1−e^−depth.
    * The sketch (≤ depth·width rows by construction) broadcasts; the
    * keys relation is never shuffled. Output: one row per DISTINCT
    * keys row, + est (the groupBy collapses duplicates — pass a
    * deduplicated probe list if input/output rows must correspond 1:1).
    */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                  depth: Int, width: Int, salt: String): DataFrame = {
    // `est` is this operator's output column (the dedupAppend `fp`
    // precedent): a caller column of that name would be silently
    // shadowed in the result — reject loudly instead
    require(!keys.columns.contains("est"),
      "cmsEstimate reserves the column name 'est'; rename the keys " +
        "relation's existing 'est' column first")
    val sk = broadcast(sketch.select(col("row").as("__srow"),
      col("bucket").as("__sbucket"), col("c").as("__c")))
    keys
      .withColumn("__rb",
        explode(cmsCells(col(keyCol), depth, width, salt)))
      .join(sk, col("__rb.row") === col("__srow") &&
        col("__rb.bucket") === col("__sbucket"), "left")
      .groupBy(keys.columns.map(col): _*)
      .agg(min(coalesce(col("__c"), lit(0L))).as("est"))
  }

  // ------------------------- bottom-k uniform-sample quantile sketch

  /** MERGEABLE per-group uniform sample: the k rows whose key hashes
    * smallest under [[hash60]] — the KMV selection rule applied to
    * whole rows instead of hashes, which makes it a bounded-state
    * QUANTILE sketch (Cohen & Kaplan 2007, "Summarizing data using
    * bottom-k sketches"): the hash order is independent of the value
    * column, so the kept rows are a uniform k-sample of the group and
    * any order statistic of the sample estimates the group's with the
    * usual O(1/√k) sampling error.
    *
    * Mergeable by construction: bottom-k of a union == bottom-k of the
    * concatenated bottom-k sketches (the k smallest of all rows are
    * among each part's k smallest) — re-run this function over UNIONED
    * sample frames (same salt, same k) to merge shards or days.
    * Deterministic: (hash, key) is a total order, so the sample —
    * and every estimate derived from it — is exactly reproducible in
    * any engine, unlike rand()-based sampling.
    *
    * Scale shape: narrow hash projection, then ONE per-group bottom-k
    * (`row_number ≤ k` takes Spark's WindowGroupLimit rewrite — k rows
    * per group per partition reach the exchange, a giant group never
    * materializes). State is ≤ k rows per group regardless of group
    * size. Returns groupCols + (__key, __val, __h).
    */
  def bottomKSample(df: DataFrame, groupCols: Seq[String],
                    keyCol: String, valueCol: String, k: Int,
                    salt: String = "bkq"): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val g = groupCols.map(col)
    val hashed = df
      .select(g ++ Seq(col(keyCol).as("__key"),
        col(valueCol).as("__val")): _*)
      .withColumn("__h", hash60(col("__key"), salt))
    TopK.perGroup(hashed, g, Seq(col("__h"), col("__key")), k,
      rankCol = "__rk").drop("__rk")
  }

  /** Rank-discrete quantiles of a [[bottomKSample]] frame: for each
    * (name, num, den) the sample value at 1-based index
    * ⌈(num/den)·m⌉ = (num·m + den − 1) div den — all-integer index
    * arithmetic (the q47 convention), never an interpolated
    * percentile, so both engines pick the same concrete element.
    * The per-group fold is a ≤ k-element sorted array — bounded by the
    * sketch contract, safe to collect per group. Output: groupCols +
    * n_sample + one column per quantile name.
    */
  def quantilesOfSample(sample: DataFrame, groupCols: Seq[String],
                        quantiles: Seq[(String, Int, Int)]): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (n, num, den) =>
      require(num >= 1 && num <= den,
        s"quantile $n: $num/$den outside (0,1]") }
    val g = groupCols.map(col)
    val agged = sample.groupBy(g: _*)
      .agg(sort_array(collect_list(col("__val"))).as("__vs"),
        count(lit(1)).as("n_sample"))
    val qCols = quantiles.map { case (name, num, den) =>
      // `div`, never `/`: Column `/` is double division and the index
      // must be exact integer arithmetic
      element_at(col("__vs"),
        expr(s"CAST((${num}L * n_sample + ${den - 1}L) div ${den}L " +
          "AS INT)")).as(name)
    }
    agged.select(g ++ Seq(col("n_sample")) ++ qCols: _*)
  }

  /** [[bottomKSample]] + [[quantilesOfSample]] in one call — the
    * direct estimate path; keep the sample frame instead when you
    * need to merge shards or serve multiple quantile sets.
    */
  def bottomKQuantiles(df: DataFrame, groupCols: Seq[String],
                       keyCol: String, valueCol: String, k: Int,
                       quantiles: Seq[(String, Int, Int)],
                       salt: String = "bkq"): DataFrame =
    quantilesOfSample(
      bottomKSample(df, groupCols, keyCol, valueCol, k, salt),
      groupCols, quantiles)
}
