package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, key-addressed corpus sampling — the curation
  * primitives a training-data pipeline needs (reproducible subsamples,
  * held-out splits, domain re-weighting). No reference analog (the
  * reference's pipelines always take whole tables); first-class here per
  * the north-star brief.
  *
  * All of it is content-addressed Bernoulli: a row's fate depends only
  * on (salt, key), never on partitioning, row order, executor count, or
  * a prior run — so a 100 TB re-run with different parallelism selects
  * the same rows, and an engine swap can be audited (the bucket is
  * md5-derived, computable in any engine with an MD5 builtin; see q40's
  * oracle). Every operator is a narrow codegen'd projection/filter —
  * zero shuffles, fully pushdown-friendly.
  */
object Sampling {

  /** 2^32 — bucket space size. */
  val BucketSpace: Long = 4294967296L

  /** The string a NULL key hashes as. Engines disagree on
    * null-in-concat (Spark `concat_ws` drops element AND separator;
    * DuckDB `CONCAT` drops just the element), so the convention pins an
    * explicit sentinel on BOTH the Column form and every SQL mirror: a
    * null key always buckets exactly like the literal string `[NULL]`.
    */
  val NullKey: String = "[NULL]"

  /** Uniform bucket in [0, 2^(4·hexChars)): the first `hexChars` hex
    * chars of md5("salt:key") as an integer (default 8 → 32 bits; ≤ 15
    * keeps the value a positive long). Buckets, not floats, so
    * threshold comparisons are exact in every engine. The ONE hashing
    * convention every sampling/sketch operator and SQL mirror derives
    * from; null keys hash as [[NullKey]].
    */
  def hashBucket(key: Column, salt: String, hexChars: Int = 8): Column = {
    require(hexChars >= 1 && hexChars <= 15)
    // one native digest+extract ([[graft.plans.Md5PrefixExpr]]) —
    // bit-equal to the composed conv(substring(md5(..),1,n),16,10)
    // chain the SQL mirrors replay, without the hex-string round trip
    // (the chain measured ~2.4× the bare digest per token)
    call_function("graft_md5_prefix",
      concat_ws(":", lit(salt),
        coalesce(key.cast("string"), lit(NullKey))), lit(hexChars))
  }

  /** Keep each row with probability `fraction`, decided by its key:
    * bucket < fraction * 2^32. Changing the salt draws an independent
    * sample; the same salt always draws the same one.
    */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
                 salt: String): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction in [0,1]")
    df.filter(hashBucket(col(keyCol), salt) <
      lit(math.round(fraction * BucketSpace)))
  }

  /** Disjoint named splits by cumulative bucket ranges, e.g.
    * Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1). Weights must sum
    * to ≤ 1; rows past the last boundary get null (sum < 1 leaves a
    * holdout). Adds `splitCol`.
    */
  def assignSplits(df: DataFrame, keyCol: String,
                   splits: Seq[(String, Double)], salt: String,
                   splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 1.0 + 1e-9)
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c * BucketSpace))
    val b = hashBucket(col(keyCol), salt)
    val expr = splits.zip(bounds).foldRight(lit(null).cast("string")) {
      case (((name, _), bound), tail) => when(b < bound, lit(name)).otherwise(tail)
    }
    df.withColumn(splitCol, expr)
  }

  /** Sample-ratio-mismatch check over [[assignSplits]] — the
    * experimentation guardrail (an SRM means the assignment or the
    * logging is broken and every downstream metric is suspect):
    * per split, the observed count against its EXACT bucket-span
    * expectation (spans are the real `round(cum·2^32)` boundaries,
    * not the nominal weights — the check audits what assignSplits
    * actually does), with the χ² term as the exact integral
    * ⌊10⁶·(2³²·O − N·span)²/(2³²·N·span)⌋ (per-cell quantization,
    * the cramersV2 convention; Σ terms ≈ 10⁶·χ²(dof = splits−1)).
    * Unassigned rows (weights summing < 1) audit against the holdout
    * span under the `[HOLDOUT]` name. Returns
    * (split, n_obs, span, chi2_term_micro) ordered by split.
    *
    * Scale: assignment is the narrow md5 projection; ONE split-keyed
    * map-side count (≤ splits+1 cells); N rides a one-row broadcast.
    */
  def srmCheck(df: DataFrame, keyCol: String,
               splits: Seq[(String, Double)], salt: String): DataFrame =
    srmFromCounts(
      assignSplits(df, keyCol, splits, salt)
        .select(coalesce(col("split"), lit("[HOLDOUT]")).as("split"))
        .groupBy(col("split")).agg(count(lit(1)).as("n_obs")),
      splits)

  /** The SRM report from PRE-AGGREGATED (split, n_obs) observation
    * counts — [[srmCheck]]'s finisher, split out so persisted counts
    * (per-day or per-batch rows summed over any number of runs) can
    * be checked without rescanning the assigned rows: counts are
    * additive, the χ² term (which divides by the grand total N) is
    * not, so it is computed here over the summed counts. Same spans,
    * same exact integral term, same output schema as [[srmCheck]];
    * splits absent from `counts` report n_obs = 0 against their span.
    * Counts rows whose split name is NOT in the span frame (possible
    * for hand-built or
    * drifted persisted counts) fail LOUDLY: they would otherwise fold
    * silently into the grand total N and deflate every reported
    * split's expected count and χ² term — a skewed SRM verdict with
    * no symptom. The guard is one bounded job over the pre-aggregated
    * (≤ splits+1 row) counts frame.
    */
  def srmFromCounts(counts: DataFrame,
                    splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 1.0 + 1e-9)
    val D = "decimal(38,0)"
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c * BucketSpace))
    val spans = splits.map(_._1).zip(
      bounds.zip(0L +: bounds.init).map { case (hi, lo) => hi - lo })
    val holdout = BucketSpace - bounds.last
    val all = if (holdout > 0) spans :+ ("[HOLDOUT]" -> holdout)
      else spans
    require(all.forall(_._2 > 0),
      s"every split needs a positive bucket span, got $all")
    val spark = counts.sparkSession
    import spark.implicits._
    val spanDf = all.toDF("split", "span")
    val unknown = counts
      .select(coalesce(col("split").cast("string"), lit("[NULL]"))
        .as("split"))
      .join(spanDf.select(col("split")), Seq("split"), "left_anti")
      .distinct().limit(6).collect().map(_.getString(0))
    require(unknown.isEmpty,
      s"counts carry split names absent from the span frame: " +
        s"${unknown.mkString(", ")} — stale or mislabeled persisted " +
        "counts would silently deflate every split's chi2 comparison")
    val obs = counts.groupBy(col("split"))
      .agg(sum(col("n_obs")).as("__o"))
    val n = obs.agg(sum(col("__o")).as("__n"))
    spanDf.join(obs, Seq("split"), "left")
      .na.fill(0L, Seq("__o"))
      .crossJoin(broadcast(n))
      .select(col("split"), col("__o").cast("long").as("n_obs"),
        col("span").cast("long").as("span"),
        expr(s"""(CAST(1000000 AS $D)
          * (CAST($BucketSpace AS $D) * __o - CAST(__n AS $D) * span)
          * (CAST($BucketSpace AS $D) * __o - CAST(__n AS $D) * span))
          div (CAST($BucketSpace AS $D) * __n * span)""")
          .cast("long").as("chi2_term_micro"))
  }

  /** Leakage-free (dedup-aware) [[assignSplits]]: every member of a
    * near-dup component is keyed by the component REPRESENTATIVE (its
    * min member id — the `comp` label from
    * [[Dedup.connectedComponents]]), singletons by their own id — so a
    * train/test split can never straddle a duplicate cluster. This is
    * eval decontamination by construction: with per-doc keys (q40's
    * shape) a near-dup pair lands train+test with probability
    * 2·p·(1−p), leaking the answer into training.
    *
    * Scale: one left join against the label frame (only CLUSTERED docs
    * appear in it — typically a small fraction of the corpus, so AQE
    * broadcasts it when it fits), then the same narrow no-shuffle
    * bucket projection as [[assignSplits]]. Adds `repCol` + `splitCol`.
    */
  def assignSplitsLeakageFree(df: DataFrame, idCol: String,
      labels: DataFrame, splits: Seq[(String, Double)], salt: String,
      splitCol: String = "split", repCol: String = "rep_id"): DataFrame = {
    val lab = labels.select(col("id").as(idCol), col("comp").as("__comp"))
    val withRep = df.join(lab, Seq(idCol), "left")
      .withColumn(repCol, coalesce(col("__comp"), col(idCol)))
      .drop("__comp")
    assignSplits(withRep, repCol, splits, salt, splitCol)
  }

  /** Exactly-k-per-stratum sample: rank rows within each stratum by
    * their hash bucket (a deterministic "random" order) and keep the
    * first k. Reproducible like everything here; one shuffle on the
    * stratum key. Adds `bucket` and `strat_rank` columns.
    */
  def stratifiedTopK(df: DataFrame, strataCol: String, keyCol: String,
                     k: Int, salt: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("bucket").asc, col(keyCol).asc)
    df.withColumn("bucket", hashBucket(col(keyCol), salt))
      .withColumn("strat_rank", row_number().over(w).cast("long"))
      .filter(col("strat_rank") <= k)
  }

  /** Domain re-weighting: keep a row of domain d with probability
    * rates(d) (domains absent from the map get `defaultRate`). The
    * standard mixture-adjustment step (up/down-weighting sources to hit
    * a target composition); deterministic per key like everything here.
    * The rates map rides along as a literal — no join, no shuffle.
    */
  def mixDomains(df: DataFrame, domainCol: String, keyCol: String,
                 rates: Map[String, Double], salt: String,
                 defaultRate: Double = 0.0): DataFrame = {
    // domain compared as string so non-string domain columns (int
    // source ids, …) work against the string-keyed rate map
    val rateCol =
      if (rates.isEmpty) lit(math.round(defaultRate * BucketSpace))
      else coalesce(
        element_at(
          map(rates.toSeq.sortBy(_._1).flatMap { case (k, v) =>
            Seq(lit(k), lit(math.round(v * BucketSpace)))
          }: _*), col(domainCol).cast("string")),
        lit(math.round(defaultRate * BucketSpace)))
    df.filter(hashBucket(col(keyCol), salt) < rateCol)
  }

  /** Deterministic fractional EPOCH EXPANSION — the data-recipe
    * repetition step of corpus assembly (a source with factor 2.5
    * contributes 2 full passes plus a hash-selected half pass; 0.5
    * subsamples; 1.0 passes through). Every row gains an `epoch`
    * column (0-based copy index), so downstream shuffles/interleaving
    * see distinct rows per repetition and the schedule stays
    * reproducible: the extra fractional copy is keyed on the SAME
    * md5-bucket convention as every sampling operator, never RNG.
    *
    * Scale shape: one narrow projection — factor lookup is a broadcast
    * map literal (no join), the copy count is column arithmetic, and
    * the explode multiplies rows in place without any exchange.
    * Factors above `maxFactor` are rejected loudly (a fat-finger 250.0
    * would 250× the corpus).
    */
  def epochExpand(df: DataFrame, keyCol: String, sourceCol: String,
                  factors: Map[String, Double], salt: String = "epoch",
                  defaultFactor: Double = 1.0,
                  maxFactor: Double = 100.0): DataFrame = {
    (factors.values.toSeq :+ defaultFactor).foreach { f =>
      require(f >= 0.0 && f <= maxFactor,
        s"epoch factor $f outside [0, $maxFactor]")
    }
    def fullOf(f: Double): Long = math.floor(f).toLong
    def thrOf(f: Double): Long = math.round((f - math.floor(f)) * BucketSpace)
    def lookup(of: Double => Long): Column =
      if (factors.isEmpty) lit(of(defaultFactor))
      else coalesce(
        element_at(
          map(factors.toSeq.sortBy(_._1).flatMap { case (k, v) =>
            Seq(lit(k), lit(of(v)))
          }: _*), col(sourceCol).cast("string")),
        lit(of(defaultFactor)))
    val copies = lookup(fullOf) +
      when(hashBucket(col(keyCol), salt) < lookup(thrOf), lit(1L))
        .otherwise(lit(0L))
    df.withColumn("epoch", explode(
      when(copies > 0, sequence(lit(0L), copies - 1))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Temperature-based domain rebalancing: downsample each domain with
    * keep-rate (n_min / n_d)^(1-α) so the output composition follows
    * p_d^α — the standard multilingual/source flattening step (α < 1
    * upsamples the tail relative to the head; α = 1 keeps the corpus as
    * is). Rates cap at 1 for the rarest domain (no duplication). The
    * per-domain counts come from one aggregate collected to the driver
    * — bounded by the number of domains, not rows. At α = 0.5 the rate
    * is sqrt(n_min/n_d): division and sqrt are correctly-rounded IEEE
    * ops in every engine, so an external SQL oracle reproduces the
    * quantized rates bit-for-bit (arbitrary α uses pow, which carries
    * no such guarantee — fine for production, not for hash-compared
    * oracles).
    *
    * NOTE: by default this executes the upstream plan TWICE — once for
    * the bounded per-domain counts collected here, once when the
    * returned filter materializes. `persistUpstream = true` removes
    * the footgun with an OWNED pin: the upstream is persisted, the
    * counts pass fills the cache, the filter pass reads it, and the
    * upstream pin is released before returning — the result comes back
    * as an eagerly-materialized persisted snapshot (the
    * [[graft.sources.TableStore.snapshot]] handle pattern: `unpersist()`
    * it when consumed; it is the kept sample, far smaller than the
    * upstream it replaces). Non-string domain columns are compared by
    * their string form (same convention as [[mixDomains]]).
    */
  def temperatureMix(df: DataFrame, domainCol: String, keyCol: String,
                     alpha: Double, salt: String,
                     persistUpstream: Boolean = false): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val in = if (persistUpstream) df.persist() else df
    try {
      // NULL domains are excluded from the rate map (a null map-literal
      // key is a runtime error) and fall to mixDomains' defaultRate = 0:
      // rows without a domain are dropped, consistent with q41's contract
      val counts = in
        .groupBy(col(domainCol).cast("string").as("__dom"))
        .agg(count(lit(1)).as("n"))
        .collect().flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1)))
        .toMap
      val out =
        if (counts.isEmpty) in.filter(lit(false))
        else {
          val nMin = counts.values.min
          val rates = counts.map { case (d, n) =>
            val ratio = nMin.toDouble / n.toDouble
            d -> (if (alpha == 0.5) math.sqrt(ratio)
                  else math.pow(ratio, 1.0 - alpha))
          }
          mixDomains(in, domainCol, keyCol, rates, salt)
        }
      if (!persistUpstream) out
      else
        // materialize the kept sample from the warm cache, then the
        // upstream pin can drop before we return
        graft.sources.TableStore.eagerSnapshot(out)
    } finally if (persistUpstream) in.unpersist(blocking = false)
  }

  /** Weight-balanced shard assignment: rank all rows by (weight DESC,
    * key) and deal them round-robin into `n` shards — sorted
    * round-robin dealing (LPT-style; true LPT assigns to the currently
    * least-loaded shard), so shard weight sums stay within one max-row
    * of each other even under heavy-tailed document lengths, where the
    * hash-random
    * shard ([[hashBucket]] % n) leaves percent-level imbalance that
    * becomes straggler shards at training time. Deterministic and
    * oracle-reproducible. This exact form is the audit twin (the
    * global rank itself now runs TWO-PASS via [[Ranks.twoPass]] —
    * partitioned rank + broadcast offsets, no single-task sort); the
    * production path is still [[assignShardsStratified]], which keeps
    * the dealing but runs it within hash-prefix strata. The balance
    * property is what this operator gates (q63).
    */
  def assignShardsBalanced(df: DataFrame, weightCol: String,
                           keyCol: String, n: Int): DataFrame = {
    graft.operators.Ranks.twoPass(df, col(weightCol), asc = false,
        Seq(col(weightCol).desc, col(keyCol)), Some("__rk_rn"))
      .withColumn("shard", ((col("__rk_rn") - 1) % n).cast("long"))
      .drop("__rk_rn")
  }

  /** Scale-safe twin of [[assignShardsBalanced]]: assign each row to one
    * of `strata` strata by its [[hashBucket]] (uniform, deterministic),
    * then rank-and-deal WITHIN each stratum — the same sorted
    * round-robin, but the window is partitioned, so the sort shards
    * across `strata` tasks instead of funnelling 100 TB through one.
    * The dealing start rotates by stratum index (`shard = (rank − 1 +
    * stratum) mod n`) so shard 0 does not systematically collect every
    * stratum's heaviest document.
    *
    * Balance bound: within one stratum, sorted round-robin keeps
    * per-shard sums within that stratum's max row weight (the pairwise
    * gap telescopes over the sorted blocks), so the total per-shard
    * spread is ≤ `strata` × max-row-weight — independent of corpus
    * size, and far tighter than hash-mod-n's O(√(W/n)) random drift on
    * heavy-tailed corpora. Proven against the hash-sharding spread in
    * SamplingSpec on the same fixture q63 gates. Pick `strata` ≈ the
    * cluster's task parallelism: larger strata = smaller sorts, linearly
    * looser bound.
    *
    * Deterministic in (salt, key, weight) like everything here; adds
    * `shard`.
    */
  def assignShardsStratified(df: DataFrame, weightCol: String,
                             keyCol: String, n: Int, strata: Int,
                             salt: String = "shard-strata"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(strata >= 1, s"strata must be >= 1, got $strata")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__stratum"))
      .orderBy(col(weightCol).desc, col(keyCol))
    df.withColumn("__stratum",
        pmod(hashBucket(col(keyCol), salt), lit(strata.toLong)))
      .withColumn("shard",
        pmod(row_number().over(w) - 1 + col("__stratum"), lit(n.toLong)))
      .drop("__stratum")
  }

  /** Replace score/cost with fail-fast-checked versions: NULL score or
    * NULL/negative cost raises instead of silently corrupting the
    * prefix/subset semantics both budget forms promise.
    */
  private def checkBudgetCols(df: DataFrame, scoreCol: String,
                              costCol: String): DataFrame =
    df.withColumn(scoreCol, when(col(scoreCol).isNotNull, col(scoreCol))
        .otherwise(raise_error(lit(
          s"budgetSelect: NULL $scoreCol (scores must be non-null)"))))
      .withColumn(costCol,
        when(col(costCol).isNotNull && col(costCol) >= 0, col(costCol))
          .otherwise(raise_error(lit(
            s"budgetSelect: NULL or negative $costCol (costs must be >= 0)"))))

  /** Token-budget-constrained selection — the data-mixing primitive:
    * per `srcCol` group, take documents in (`scoreCol` desc, `idCol`)
    * order while the running `costCol` sum stays ≤ `budget` (the kept
    * set is the maximal quality-first prefix whose total cost fits).
    * Adds `cum_cost` (the running sum, exact long). Deterministic:
    * the (score desc, id) order is total, so ties at the boundary
    * resolve identically on every engine. `scoreCol` must be non-null
    * and `costCol` non-null and ≥ 0 — ENFORCED, not just documented: a
    * violating row raises rather than silently returning a non-prefix
    * set (negative costs make the running sum non-monotone, so a
    * `cum ≤ budget` filter would skip a higher-ranked row and readmit
    * later ones; a NULL score has no place in the greedy order).
    *
    * Scale: the per-source cumulative window sorts each source's full
    * history inside one window partition (q76's form).
    */
  def budgetSelect(df: DataFrame, srcCol: String, scoreCol: String,
                   costCol: String, idCol: String,
                   budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    checkBudgetCols(df, scoreCol, costCol)
      .withColumn("cum_cost", sum(col(costCol)).over(w))
      .filter(col("cum_cost") <= budget)
  }

  /** Exponential-key quantization scale for [[weightedTopK]]:
    * keys are ⌊10⁶ · ln(u)/w⌋ longs. */
  val WrsKeyScale: Long = 1000000L

  /** The UNQUANTIZED exponential key 10⁶·ln(u)/w with the fail-fast
    * weight guard — [[weightedTopK]] floors it into the rank key and
    * its margin audit reads the fraction. */
  private def wrsRaw(key: Column, weight: Column, salt: String): Column = {
    val w = weight.cast("double")
    val wChecked = when(w.isNotNull && w > 0, w)
      .otherwise(raise_error(lit(
        "weightedTopK: NULL or non-positive weight (weights " +
          "must be > 0; filter or reweight first)")))
    val u = (hashBucket(key, salt).cast("double") + lit(1.0)) /
      lit(BucketSpace.toDouble)
    lit(WrsKeyScale.toDouble) * log(u) / wChecked
  }

  /** Weighted sampling WITHOUT replacement (the Efraimidis–Spirakis
    * exponential-key scheme, A-ES: draw k rows with inclusion
    * probability proportional to `weightCol`) — deterministic like
    * every operator here: a row's "random" u is its md5 bucket mapped
    * to (0,1] (`(bucket+1)/2³²`, both exact doubles), and its rank key
    * is the quantized exponential key `⌊10⁶ · ln(u)/w⌋` (maximizing
    * u^(1/w) ⇔ maximizing ln(u)/w, since ln(u) ≤ 0 and w > 0). Top-k
    * by (key desc, id) per stratum — same sample on any partitioning,
    * cluster size, or engine; a different salt draws an independent
    * sample. The training-data use: subsample a corpus proportional to
    * a quality/length weight, reproducibly, without a global RNG.
    *
    * Determinism contract (the q64/q72 ln kit): u and w are exact
    * inputs; IEEE ×/÷ are correctly rounded, ln is
    * cross-engine-identical to ~1 ulp, and the key is floored at scale
    * 10⁶ — drift reaches a key only when the unquantized value sits
    * within ~10⁻¹⁰ of a floor boundary. `minQuantMargin` (debug mode)
    * audits that margin with one extra bounded aggregate pass and
    * throws if any row sits too close; ties in the quantized key break
    * by id. NULL or non-positive weights raise — a silent drop would
    * bias the sample invisibly.
    *
    * Scale shape: the key is a narrow codegen'd projection (zero
    * shuffles); ranking is the standard per-stratum window k-limit
    * (`strataCol` given) or a TakeOrderedAndProject global top-k
    * (`strataCol = None` — never a single-partition window; the rank
    * is stamped on the ≤ k survivors only).
    *
    * Returns the sampled rows: key/strata columns, `wkey` (the
    * quantized exponential key) and `rk` (1-based rank within the
    * stratum / globally).
    */
  def weightedTopK(df: DataFrame, keyCol: String, weightCol: String,
                   k: Int, salt: String,
                   strataCol: Option[String] = None,
                   minQuantMargin: Option[Double] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val raw = wrsRaw(col(keyCol), col(weightCol), salt)
    minQuantMargin.foreach { threshold =>
      // debug-mode margin audit: min distance of any unquantized key
      // to its floor boundary (one extra pass over df — the q72 guard
      // shape, per-row here because the key is per-row)
      val frac = raw - floor(raw)
      val row = df.select(min(least(frac, lit(1.0) - frac)).as("m"))
        .head()
      // empty input: min() is NULL and no key exists to flip — skip
      // the audit rather than NPE on getDouble
      if (!row.isNullAt(0)) {
        val m = row.getDouble(0)
        if (m < threshold) throw new IllegalStateException(
          f"weightedTopK quantization margin $m%.3e below threshold " +
            f"$threshold%.3e: a key sits close enough to its floor " +
            "boundary that cross-engine ln drift could flip it — " +
            "re-audit the fixture or change the salt")
      }
    }
    val keyed = df.withColumn("wkey", floor(raw).cast("long"))
    strataCol match {
      case Some(s) =>
        TopK.perGroup(keyed, Seq(col(s)),
          Seq(col("wkey").desc, col(keyCol)), k)
          .withColumn("rk", col("rk").cast("long"))
      case None =>
        // TakeOrderedAndProject; the window runs over ≤ k rows only
        val top = keyed.orderBy(col("wkey").desc, col(keyCol)).limit(k)
        TopK.perGroup(top, Seq.empty,
          Seq(col("wkey").desc, col(keyCol)), k)
          .withColumn("rk", col("rk").cast("long"))
    }
  }

  /** Effective sample size of a weighted frame (Kish 1965):
    * ESS = (Σw)²/Σw² — how many EQUAL-weight rows this weighted set
    * is worth; the design-effect diagnostic for every weighted
    * corpus mix ([[temperatureMix]], [[weightedTopK]], DSIR
    * importance weights): ESS/n near 1 means the weights are doing
    * nothing, near 0 means a few heavy rows dominate and the mix's
    * nominal size is a lie. Exact integers: per group,
    * ess_rows = ⌊(Σw)²/Σw²⌋ and ess_ppm = ⌊⌊(Σw)²/Σw²⌋·10⁶/n⌋ — a
    * divide CHAIN whose quotients are Cauchy–Schwarz-bounded
    * ((Σw)² ≤ n·Σw², so ess_rows ≤ n and ess_ppm ≤ 10⁶ — `div` can
    * never truncate). Rows with NULL or non-positive weight are
    * excluded. Returns (grp, n_rows, sum_w, ess_rows, ess_ppm).
    *
    * Scale: ONE group-keyed map-side aggregate over the scan.
    */
  def essWeights(df: DataFrame, grpCol: String,
                 weightCol: String): DataFrame = {
    val D = "decimal(38,0)"
    df.filter(col(grpCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .select(col(grpCol).as("grp"),
        col(weightCol).cast("long").cast(D).as("__w"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast(D).as("__m"),
        sum(col("__w")).as("__s1"),
        sum(col("__w") * col("__w")).as("__s2"))
      .select(col("grp"),
        col("__m").cast("long").as("n_rows"),
        col("__s1").cast("long").as("sum_w"),
        expr("CAST((__s1 * __s1) div __s2 AS BIGINT)").as("ess_rows"),
        expr(s"""CAST((CAST((__s1 * __s1) div __s2 AS $D)
          * 1000000) div __m AS BIGINT)""").as("ess_ppm"))
  }
}
