package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus and column profiling: quantile trims and bands, drift
  * statistics (χ², KS, PSI), robust outlier accounting, concentration
  * and rank-correlation measures. Each operator is the exact form its
  * query gates against the DuckDB oracle: discrete rank-based
  * quantiles (q47's convention — never interpolated, ties broken on an
  * id or tie column) and integer or decimal(38,0) arithmetic, so the
  * results are engine-portable. A rank window partitions by group, so
  * a giant group costs one reducer's sort; each operator's Scale note
  * says what it shuffles.
  */
object Profile {

  /** Per-group quantile-band trim: keep rows whose `valCol` rank within
    * `groupCol` lies in [ceil(lo·n), floor(hi·n)] — adaptive outlier
    * trimming with per-source thresholds (fixed global cutoffs misfire
    * when sources have very different length/score distributions). Rank
    * ties break deterministically by `idCol`, so the kept set is exactly
    * reproducible — this is the oracle/audit form; it sorts each group
    * inside one window partition.
    *
    * NULL `valCol` rows rank LAST (`asc_nulls_last`, pinned explicitly:
    * Spark's default ASC ordering puts NULLs first, DuckDB's puts them
    * last — an unpinned ordering would silently diverge from the SQL
    * mirror on nullable columns). NULLs therefore land in the upper
    * trimmed band and are cut for hi < 1; q62's `n_chars` is non-null,
    * so its oracle is unaffected either way.
    */
  def quantileTrim(df: DataFrame, groupCol: String, valCol: String,
                   idCol: String, lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valCol).asc_nulls_last, col(idCol))
    val wc = Window.partitionBy(col(groupCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wc))
      .filter(col("__rn") >= ceil(lit(lo) * col("__n")) &&
        col("__rn") <= floor(lit(hi) * col("__n")))
      .drop("__rn", "__n")
  }

  /** EXACT φ-heavy hitters (items with count ≥ ceil(φ·n)) without ever
    * shuffling the full item domain — the scale twin of the exact
    * `groupBy(item).count` (q59's shape), whose exchange IS the
    * vocabulary at 100 TB.
    *
    * Two linear scans:
    *  1. one pass computing `(graft_mg(item, k), count(item))` — the
    *     [[graft.plans.MisraGriesAgg]] sketch moves at most k counters
    *     per partition partial; with k = ⌈slack/φ⌉ (slack ≥ 2) every
    *     true φ-heavy item is guaranteed in the sketch (MG retains all
    *     items with count > n/(k+1), and φ·n ≥ slack·n/k > n/(k+1));
    *  2. one exact recount restricted to the ≤ k candidates — the
    *     filter is a broadcast `isin` evaluated map-side, and the
    *     recount groupBy touches ≤ k distinct keys, so the exchange
    *     carries ≤ k·partitions rows regardless of corpus size.
    *
    * The result is EXACT (candidates are a superset of the answer;
    * recounts are true counts; the ≥ ceil(φ·n) filter removes false
    * positives), so it gates against a plain GROUP BY/HAVING oracle.
    * Nulls are excluded from both n and the counts (SQL COUNT(col)
    * semantics). The two passes re-execute the upstream plan — persist
    * an expensive input, same contract as [[Sampling.temperatureMix]].
    */
  def heavyHitters(df: DataFrame, itemCol: String, phi: Double,
                   slack: Double = 2.0): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi in (0,1], got $phi")
    require(slack >= 2.0, s"slack >= 2 keeps the MG guarantee, got $slack")
    val k = math.max(1, math.ceil(slack / phi)).toInt
    val first = df.agg(
      call_function("graft_mg", col(itemCol), lit(k)).as("sketch"),
      count(col(itemCol)).as("n")).head()
    val n = first.getLong(1)
    val candidates = first.getSeq[org.apache.spark.sql.Row](0)
      .map(_.getString(0))
    val threshold = math.ceil(phi * n).toLong
    df.filter(col(itemCol).isin(candidates: _*))
      .groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
  }

  /** Per-group token-distribution DRIFT vs the whole corpus — the
    * Pearson χ² goodness-of-fit statistic over a top-V vocabulary
    * plus an OTHER bucket (the textbook contingency reduction; χ²
    * over a full web-scale vocabulary is both statistically wrong —
    * sparse cells — and a scale hazard). The data-mixing monitor:
    * a source whose χ² spikes is drifting away from the corpus mix
    * (crawler change, template flood, language shift) and should be
    * re-weighted or audited before training.
    *
    * Statistic, exact-integer quantized: with o = observed count of
    * token t in group g, nₛ = group tokens, c = corpus count of t,
    * N = corpus tokens, each cell contributes
    * `(o·N − nₛ·c)²·scale div (N·nₛ·c)` — the algebraic expansion of
    * (o−e)²/e with e = nₛ·c/N, kept as one integral division per cell
    * so both engines agree bit-for-bit (numerator is a SQUARE, so
    * `div`-truncation ⇄ `//`-floor agree — the q129 sign lesson).
    * Cell arithmetic rides decimal(38,0) (the [[Classifier]] grad-cell
    * precedent): |o·N| ≤ N² ≲ 10¹⁷ per factor at petabyte scale keeps
    * d²·scale inside 38 digits for corpora to ~10¹⁴ tokens.
    *
    * Scale shape: one narrow token explode → ONE (group, token)
    * exchange with map-side partials; corpus counts and the top-V
    * vocabulary are token-vocabulary-scale; the scored grid is
    * |groups|·(V+1) rows with the vocabulary BROADCAST — the corpus is
    * never reshuffled by token. Two bounded driver collects (V vocab
    * rows, one grand total). Zero-cells (group lacks a vocab token)
    * are materialized by the grid — they carry real χ² mass.
    *
    * Returns (grp, n_tokens, chi2_q) — chi2_q is χ²·scale as an exact
    * long; compare across groups or against a χ²(V) tail bound.
    */
  def tokenDriftChi2(df: DataFrame, groupCol: String, textCol: String,
                     vocabSize: Int = 50,
                     scale: Long = 1000000L): DataFrame = {
    require(vocabSize >= 1, s"vocabSize >= 1, got $vocabSize")
    require(scale >= 1, s"scale >= 1, got $scale")
    import graft.functions.TextFunctions
    val spark = df.sparkSession
    import spark.implicits._
    val gt = df.select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("o"))
      .persist()
    try {
      // bounded driver collects: V vocabulary rows + one grand total
      val vocab = gt.groupBy(col("t")).agg(sum(col("o")).as("c"))
        .orderBy(col("c").desc, col("t")).limit(vocabSize)
        .select(col("t"), col("c").cast("long")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val ns = gt.groupBy(col("grp"))
        .agg(sum(col("o")).cast("long").as("n_s"))
      val bigN = gt.agg(sum(col("o")).cast("long")).head().getLong(0)
      require(bigN > 0, "empty corpus")
      val cOther = bigN - vocab.map(_._2).sum
      val vdf = broadcast(vocab.toDF("t", "c"))
      val grid = ns.crossJoin(vdf).join(gt, Seq("grp", "t"), "left")
        .select(col("grp"), col("n_s"), col("c"),
          coalesce(col("o"), lit(0L)).as("o"))
      val vocabHits = gt.join(vdf.select(col("t")), Seq("t"))
        .groupBy(col("grp")).agg(sum(col("o")).as("__ov"))
      // the OTHER bucket: everything outside the vocabulary, one cell
      // per group (skipped when the vocabulary covers the corpus —
      // then every group's other-count is provably 0 too)
      val other = ns.join(vocabHits, Seq("grp"), "left")
        .select(col("grp"), col("n_s"), lit(cOther).as("c"),
          (col("n_s") - coalesce(col("__ov"), lit(0L))).as("o"))
      val cells = if (cOther > 0) grid.unionByName(other) else grid
      val D = "decimal(38,0)"
      val out = cells
        .withColumn("__d",
          col("o").cast(D) * lit(bigN).cast(D) -
            col("n_s").cast(D) * col("c").cast(D))
        .withColumn("__den",
          lit(bigN).cast(D) * col("n_s").cast(D) * col("c").cast(D))
        .withColumn("__term",
          expr(s"(__d * __d * CAST($scale AS $D)) div __den"))
        .groupBy(col("grp"))
        .agg(max(col("n_s")).as("n_tokens"),
          sum(col("__term")).as("chi2_q"))
      // materialize WHILE gt is pinned: the result is |groups| rows
      // (bounded metadata), but its lazy plan references gt three
      // ways — returned unevaluated, the finally-unpersist would make
      // the caller recompute the corpus-scale (group, token) exchange
      // once per reference
      val rows = out.collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    } finally gt.unpersist(blocking = false)
  }

  /** Per-group Zipf rank-frequency fit — the corpus-health law check
    * (Zipf 1949; a natural-language source's log-log rank-frequency
    * line has slope ≈ −1, while template floods, boilerplate, and
    * synthetic spam bend it): OLS slope of `ln(freq)` on `ln(rank)`
    * over the group's full vocabulary, ranks assigned by
    * (freq DESC, token ASC) so the fit is deterministic under ties.
    *
    * Exact-integer determinism: quantize x = ⌊10⁶·ln(rank)⌋ and
    * y = ⌊10⁶·ln(freq)⌋ (ln args are INTEGERS, so the quantization
    * margin is auditable over the observed rank/freq value sets —
    * [[zipfQuantMargin]], the q72 kit; rank/freq 1 gives ln(1) = 0,
    * boundary-exact in every engine, excluded from the audit), then
    * every OLS sum is an exact integer in decimal(38,0) and the
    * reported steepness is ONE integral division
    * `10⁶·(Σx·Σy − n·Σxy) div (n·Σx² − (Σx)²)`. The NEGATED
    * numerator is structurally non-negative — x increases with rank
    * while y is non-increasing (ranked by freq), so their covariance
    * is ≤ 0 by Chebyshev's sum inequality — which is what lets
    * Spark's truncating `div` and DuckDB's flooring `//` agree (the
    * q129 sign lesson). Overflow: |x|,|y| ≲ 10⁶·ln(10¹⁴) ≈ 3.2·10⁷,
    * so n·Σxy ≲ V²·10¹⁵ stays inside 38 digits for vocabularies to
    * ~10¹¹ types.
    *
    * Scale shape: ONE (group, token) counting exchange, then a
    * vocabulary-scale per-group window for ranks (model-scale rows,
    * NOT corpus rows) and one grouped sum — the corpus text is read
    * once. Groups with a single vocabulary type have a zero OLS
    * denominator and are emitted with neg_slope_ppm NULL.
    *
    * Returns (grp, n_types, n_tokens, neg_slope_ppm) — steepness in
    * ppm (≈ 1 000 000 for a textbook Zipf corpus).
    */
  def zipfFit(df: DataFrame, groupCol: String, textCol: String,
              minQuantMargin: Option[Double] = None): DataFrame = {
    minQuantMargin.foreach { threshold =>
      val m = zipfQuantMargin(df, groupCol, textCol)
      if (m < threshold) throw new IllegalStateException(
        f"Profile.zipfFit quantization margin $m%.3e below threshold " +
          f"$threshold%.3e: an ln(rank)/ln(freq) value sits close " +
          "enough to its floor boundary that cross-engine ln drift " +
          "could flip a quantized sum — re-audit the fixture before " +
          "trusting a hash-compared oracle")
    }
    val D = "decimal(38,0)"
    val s = rankedFreqs(df, groupCol, textCol)
      .withColumn("__x",
        floor(lit(1000000.0) * log(col("__rk").cast("double")))
          .cast(D))
      .withColumn("__y",
        floor(lit(1000000.0) * log(col("__c").cast("double")))
          .cast(D))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("__c")).cast("long").as("n_tokens"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
    s.withColumn("neg_slope_ppm",
        when(col("n_types") >= 2, expr(s"CAST((CAST(1000000 AS $D) * " +
          "(__sx * __sy - CAST(n_types AS decimal(38,0)) * __sxy)) div " +
          "(CAST(n_types AS decimal(38,0)) * __sxx - __sx * __sx) " +
          "AS BIGINT)")))
      .select(col("grp"), col("n_types"), col("n_tokens"),
        col("neg_slope_ppm"))
  }

  /** Min distance of any observed `10⁶·ln(rank)` / `10⁶·ln(freq)`
    * value to its floor boundary, rank/freq = 1 excluded (ln(1) = 0
    * is boundary-exact in every engine) — [[zipfFit]]'s cross-engine
    * determinism audit.
    */
  def zipfQuantMargin(df: DataFrame, groupCol: String,
                      textCol: String): Double = {
    val args = rankedFreqs(df, groupCol, textCol)
      .select(explode(array(col("__rk").cast("long"),
        col("__c").cast("long"))).as("__k"))
      .filter(col("__k") > 1L).distinct()
    val q = lit(1000000.0) * log(col("__k").cast("double"))
    val frac = q - floor(q)
    val row = args.agg(min(least(frac, lit(1.0) - frac))).head()
    if (row.isNullAt(0)) Double.PositiveInfinity else row.getDouble(0)
  }

  /** Benford first-digit expectations, ppm-quantized ONCE driver-side
    * (`round(10⁶·log10(1+1/d))`) and embedded as LITERALS in both the
    * engine plan and the SQL oracle — the q126/q128 nDCG precedent
    * for irrational constants: nothing transcendental ever crosses an
    * engine boundary.
    */
  val BenfordPpm: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.round(1e6 * math.log10(1.0 + 1.0 / d)))

  /** Per-group Benford first-digit audit — the numeric-column health
    * check (Benford 1938; Nigrini's fraud-detection staple): natural
    * multi-scale magnitudes (prices, populations, file sizes) follow
    * P(d) = log10(1+1/d), while fabricated, capped, or
    * uniformly-generated values do not. Pearson χ² of the observed
    * first-digit counts against the Benford expectation over the nine
    * digit cells.
    *
    * `valueCol` must be a POSITIVE INTEGRAL column (convert prices to
    * cents first — shifting the decimal point never changes the
    * leading digit); the first digit is taken from the decimal string
    * (exact and engine-portable — no log10 of data at runtime, the
    * only transcendental is the LITERAL expectation table). Cell
    * arithmetic is the [[tokenDriftChi2]] exact-integer expansion
    * with e_d = N·p_ppm/10⁶: `(10⁶·o_d − N·p_ppm)²·scale div
    * (N·p_ppm·10⁶)` in decimal(38,0) — numerator a square, so `div`
    * ⇄ `//` agree; all nine cells materialize (zero-observed digits
    * carry real χ² mass). Fits 38 digits to N ≈ 3·10⁹ per group at
    * scale 10⁶; BIGINT output holds to N ≈ 4·10¹¹.
    *
    * Scale shape: one narrow projection → ONE (group, digit)
    * counting exchange (≤ 9 cells per group per partition after
    * map-side combine) → a 9-row broadcast grid join.
    *
    * Returns (grp, n_vals, benford_q) — χ²·scale as an exact long;
    * compare against a χ²(8) tail bound (20.09 at p=0.01 →
    * benford_q ≈ 2·10⁷).
    */
  def benfordChi2(df: DataFrame, groupCol: String, valueCol: String,
                  scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale >= 1, got $scale")
    val spark = df.sparkSession
    import spark.implicits._
    val digits = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(col(groupCol).as("grp"),
        substring(col(valueCol).cast("long").cast("string"), 1, 1)
          .cast("int").as("__d"))
    val obs = digits.groupBy(col("grp"), col("__d"))
      .agg(count(lit(1)).as("o"))
    val ns = obs.groupBy(col("grp")).agg(sum(col("o")).as("n_vals"))
    val pdf = broadcast(BenfordPpm.toDF("__d", "__p"))
    val D = "decimal(38,0)"
    ns.crossJoin(pdf)
      .join(obs, Seq("grp", "__d"), "left")
      .select(col("grp"), col("n_vals"), col("__p"),
        coalesce(col("o"), lit(0L)).as("o"))
      .withColumn("__diff",
        col("o").cast(D) * lit(1000000L).cast(D) -
          col("n_vals").cast(D) * col("__p").cast(D))
      .withColumn("__den",
        col("n_vals").cast(D) * col("__p").cast(D) *
          lit(1000000L).cast(D))
      .withColumn("__term",
        expr(s"(__diff * __diff * CAST($scale AS $D)) div __den"))
      .groupBy(col("grp"))
      .agg(max(col("n_vals")).cast("long").as("n_vals"),
        sum(col("__term")).cast("long").as("benford_q"))
  }

  /** Per-group Heaps' law fit — [[zipfFit]]'s companion law (Heaps
    * 1978: vocabulary grows as V(N) ≈ K·N^β, β ≈ 0.4-0.6 for natural
    * language): OLS slope of ln(V_i) on ln(N_i) over the group's
    * cumulative (tokens seen, distinct types seen) trajectory in
    * `idCol` order — one point per document. A source whose β
    * collapses is template-flooded (no new vocabulary); one whose β
    * stays near 1 is id-spam. Same exact-integer kit as [[zipfFit]]
    * (N_i/V_i are INTEGERS → auditable quantization,
    * [[heapsQuantMargin]]); here the numerator is DIRECTLY
    * non-negative (x and y both non-decreasing in i), so `div` ⇄ `//`
    * agree without negation.
    *
    * Scale shape: one (group, doc) token-count exchange + one
    * (group, token) first-occurrence exchange (both model/corpus-doc
    * scale), then per-group running sums over DOC-count rows (not
    * token rows). Degenerate groups (all-empty docs → constant x)
    * emit NULL.
    *
    * Returns (grp, n_docs, beta_ppm) — β in ppm.
    */
  def heapsFit(df: DataFrame, groupCol: String, idCol: String,
               textCol: String,
               minQuantMargin: Option[Double] = None): DataFrame = {
    minQuantMargin.foreach { threshold =>
      val m = heapsQuantMargin(df, groupCol, idCol, textCol)
      if (m < threshold) throw new IllegalStateException(
        f"Profile.heapsFit quantization margin $m%.3e below threshold " +
          f"$threshold%.3e: an ln(N)/ln(V) value sits close enough to " +
          "its floor boundary that cross-engine ln drift could flip a " +
          "quantized sum — re-audit the fixture before trusting a " +
          "hash-compared oracle")
    }
    val D = "decimal(38,0)"
    val s = heapsCum(df, groupCol, idCol, textCol)
      .filter(col("__N") > 0L)
      .withColumn("__x",
        floor(lit(1000000.0) * log(col("__N").cast("double"))).cast(D))
      .withColumn("__y",
        floor(lit(1000000.0) * log(col("__V").cast("double"))).cast(D))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
    s.withColumn("beta_ppm",
        when(col("n_docs") >= 2 &&
          expr(s"CAST(n_docs AS decimal(38,0)) * __sxx - __sx * __sx")
            > 0,
          expr(s"CAST((CAST(1000000 AS $D) * " +
            "(CAST(n_docs AS decimal(38,0)) * __sxy - __sx * __sy)) " +
            "div (CAST(n_docs AS decimal(38,0)) * __sxx - __sx * __sx) " +
            "AS BIGINT)")))
      .select(col("grp"), col("n_docs"), col("beta_ppm"))
  }

  /** [[zipfQuantMargin]] for the Heaps trajectory values (all
    * distinct N_i and V_i > 1).
    */
  def heapsQuantMargin(df: DataFrame, groupCol: String, idCol: String,
                       textCol: String): Double = {
    val args = heapsCum(df, groupCol, idCol, textCol)
      .select(explode(array(col("__N"), col("__V"))).as("__k"))
      .filter(col("__k") > 1L).distinct()
    val q = lit(1000000.0) * log(col("__k").cast("double"))
    val frac = q - floor(q)
    val row = args.agg(min(least(frac, lit(1.0) - frac))).head()
    if (row.isNullAt(0)) Double.PositiveInfinity else row.getDouble(0)
  }

  /** (grp, doc, __N cumulative tokens, __V cumulative distinct
    * types) in `idCol` order — the shared frame behind [[heapsFit]]
    * and its margin audit. Empty docs stay as points (N, V
    * unchanged — a duplicate x is deterministic in both engines).
    */
  private def heapsCum(df: DataFrame, groupCol: String, idCol: String,
                       textCol: String): DataFrame = {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.expressions.Window
    val tk = df.select(col(groupCol).as("grp"), col(idCol).as("__doc"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
    val perDoc = tk.groupBy(col("grp"), col("__doc"))
      .agg(count(lit(1)).as("__ntok"))
    val base = df.select(col(groupCol).as("grp"),
      col(idCol).as("__doc"))
    val pdf = base.join(perDoc, Seq("grp", "__doc"), "left")
      .select(col("grp"), col("__doc"),
        coalesce(col("__ntok"), lit(0L)).as("__ntok"))
    val firsts = tk.groupBy(col("grp"), col("t"))
      .agg(min(col("__doc")).as("__fd"))
      .groupBy(col("grp"), col("__fd").as("__doc"))
      .agg(count(lit(1)).as("__nnew"))
    val w = Window.partitionBy(col("grp")).orderBy(col("__doc"))
    pdf.join(firsts, Seq("grp", "__doc"), "left")
      .select(col("grp"), col("__doc"),
        sum(col("__ntok")).over(w).as("__N"),
        sum(coalesce(col("__nnew"), lit(0L))).over(w).as("__V"))
  }

  /** (grp, token, __c count, __rk rank) — the shared frame behind
    * [[zipfFit]] and its margin audit.
    */
  private def rankedFreqs(df: DataFrame, groupCol: String,
                          textCol: String): DataFrame = {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.expressions.Window
    df.select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("__c"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("__c").desc, col("t"))))
  }

  /** Exact Gini concentration of the per-group token-frequency
    * distribution — the vocabulary-inequality companion to [[zipfFit]]
    * and [[heapsFit]]: G near 0 = frequencies spread evenly (id-spam /
    * templated vocab), G near 1 = a few tokens dominate (boilerplate
    * flood). Computed from the rank form
    * G = (2·Σᵢ i·c₍ᵢ₎ − (n+1)·Σc) / (n·Σc) over counts sorted
    * ascending (token tie-break) — ALL integers, reported as
    * ⌊scale·G⌋; the numerator is non-negative by Chebyshev's sum
    * inequality (ranks and sorted counts are similarly ordered), so
    * `div` ⇄ `//` agree (the zipfFit sign discipline). Sums ride
    * decimal(38,0) ⇄ HUGEINT. Returns
    * (groupCol, n_types, n_tokens, gini_scaled).
    *
    * One (group, token) counting exchange + the vocabulary-scale rank
    * window (the [[zipfFit]] shape — vocabulary ≪ corpus).
    */
  def giniConcentration(df: DataFrame, groupCol: String,
                        textCol: String,
                        scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    val c = df.select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("c"))
    c.withColumn("rk", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("c"), col("t"))))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast(D)).as("__s0"),
        sum(col("rk").cast(D) * col("c").cast(D)).as("__s1"))
      .select(col("grp").as(groupCol),
        col("n").cast("long").as("n_types"),
        col("__s0").cast("long").as("n_tokens"),
        expr(s"(CAST($scale AS $D) * (2 * __s1 - (n + 1) * __s0)) " +
          "div (CAST(n AS decimal(38,0)) * __s0)")
          .cast("long").as("gini_scaled"))
  }

  /** Robust per-group outlier accounting: median and MAD (median
    * absolute deviation) of an integral `valueCol` by the exact
    * rank-based lower-median convention (q47's discrete quantiles —
    * never interpolated, so the result is an ACTUAL data value and
    * engine-portable), plus the count of rows with
    * |v − median| > k·MAD — the robust z-score filter that
    * mean/stddev cannot give (one pathological document shifts a
    * mean; it cannot shift a median). Ties in the rank order break on
    * `idCol`, making the whole computation deterministic. Returns
    * (groupCol, n_rows, med, mad, n_outliers).
    *
    * Scale: two group-partitioned rank windows (value order, then
    * deviation order) — correct and gate-able; a giant group
    * serializes its reducer's sort.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  idCol: String, k: Long = 3L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(col("grp"))
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("v"), col(idCol).as("__id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"), col("__id"))))
      .withColumn("n", count(lit(1)).over(wAll))
    val med = base.filter(col("rn") === expr("(n + 1) div 2"))
      .groupBy(col("grp")).agg(max(col("v")).as("med"))
    val dev = base.join(broadcast(med), Seq("grp"))
      .withColumn("d", abs(col("v") - col("med")))
    val mad = dev
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("d"), col("__id"))))
      .filter(col("rn2") === expr("(n + 1) div 2"))
      .groupBy(col("grp")).agg(max(col("d")).as("mad"))
    dev.join(broadcast(mad), Seq("grp"))
      .groupBy(col("grp"))
      .agg(max(col("n")).cast("long").as("n_rows"),
        max(col("med")).cast("long").as("med"),
        max(col("mad")).cast("long").as("mad"),
        sum(when(col("d") > lit(k) * col("mad"), 1L).otherwise(0L))
          .cast("long").as("n_outliers"))
      .select(col("grp").as(groupCol), col("n_rows"), col("med"),
        col("mad"), col("n_outliers"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift: for every group, the
    * KS statistic D = max_v |F_g(v) − F_rest(v)| between the group's
    * distribution of an integral `valueCol` and the REST of the
    * corpus — the distribution-shape companion to [[tokenDriftChi2]]
    * (χ² sees per-cell mass, KS sees the worst cumulative gap, so a
    * shifted-median source lights up KS even when every individual
    * cell stays small). Returns (groupCol, n_a, n_b, d_scaled):
    * n_a = group rows, n_b = rest rows, d_scaled = ⌊scale·D⌋ from the
    * EXACT integer cross-multiplied form
    * max_v |cum_g(v)·n_b − cum_rest(v)·n_a| · scale div (n_a·n_b) —
    * no floats anywhere, so the statistic is engine-portable and
    * gate-able (products ride decimal(38,0); corpora past 2^63 rows
    * stay exact). A group that IS the whole corpus (n_b = 0) reports
    * NULL.
    *
    * `valueCol` must be discrete (integral or pre-quantized): the
    * evaluation grid is (distinct groups) × (distinct values), one
    * bounded frame — bucket continuous metrics first (a token count,
    * a `div`-bucketed score, …). The global value-CDF window is a
    * single-task sort over that bounded distinct-value frame, never
    * over the corpus; the corpus itself is touched by exactly ONE
    * (group, value) counting exchange.
    */
  def ksDrift(df: DataFrame, groupCol: String, valueCol: String,
              scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    // the ONE corpus-scale exchange
    val c = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
    val tot = c.groupBy(col("grp")).agg(sum(col("c")).as("n_g"))
    val nAll = tot.agg(sum(col("n_g")).as("N"))
    // global CDF over the bounded distinct-value frame (explicitly
    // un-partitioned: |values| rows by contract)
    val glob = c.groupBy(col("v")).agg(sum(col("c")).as("cv"))
      .withColumn("cum_all", sum(col("cv")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("v"), col("cum_all"))
    val wg = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot.crossJoin(glob)
      .join(c, Seq("grp", "v"), "left")
      .withColumn("cum_g",
        sum(coalesce(col("c"), lit(0L))).over(wg))
      .crossJoin(nAll)
      .withColumn("__d", abs(
        col("cum_g").cast(D) * (col("N") - col("n_g")).cast(D) -
          (col("cum_all") - col("cum_g")).cast(D) *
            col("n_g").cast(D)))
      .groupBy(col("grp"))
      .agg(max(col("n_g")).cast("long").as("n_a"),
        max(col("N") - col("n_g")).cast("long").as("n_b"),
        max(col("__d")).as("__dnum"))
      .withColumn("d_scaled",
        when(col("n_b") > 0,
          expr(s"(__dnum * CAST($scale AS $D)) div " +
            s"(CAST(n_a AS $D) * CAST(n_b AS $D))").cast("long")))
      .select(col("grp").as(groupCol), col("n_a"), col("n_b"),
        col("d_scaled"))
  }

  /** Per-group exact-duplicate scorecard: content fingerprints
    * ([[graft.functions.TextFunctions.fingerprint]]'s md5-of-
    * normalized convention) counted vs distinct per group — the
    * "which source is feeding us copies" triage view in front of the
    * [[Dedup]] machinery. Returns (group, n_docs, n_distinct,
    * dup_ppm). ONE (group, fp) map-side distinct + a group rollup.
    */
  def dupRateBy(docs: DataFrame, groupCol: String,
                textCol: String): DataFrame = {
    val f = docs.select(col(groupCol).as("grp"),
      graft.functions.TextFunctions.fingerprint(col(textCol))
        .as("__fp"))
    f.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__fp")).as("n_distinct"))
      .select(col("grp").as(groupCol),
        col("n_docs").cast("long").as("n_docs"),
        col("n_distinct").cast("long").as("n_distinct"),
        expr("(1000000 * (n_docs - n_distinct)) div n_docs")
          .cast("long").as("dup_ppm"))
  }

  /** Hapax-legomenon ratio per group — the lexical-richness screen
    * next to Zipf (q141) / Heaps (q145) / Gini (q166): the fraction
    * of a group's VOCABULARY seen exactly once (template-generated
    * text runs hapax-poor; rich natural text runs ~40-60%). Returns
    * (group, vocab, hapax, hapax_ppm). One (group, token) map-side
    * count, one group rollup.
    */
  def hapaxRatio(docs: DataFrame, groupCol: String,
                 textCol: String): DataFrame = {
    val c = docs.select(col(groupCol).as("grp"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("grp"), col("__w"))
      .agg(count(lit(1)).as("__n"))
    c.groupBy(col("grp"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("__n") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("grp").as(groupCol),
        col("vocab").cast("long").as("vocab"),
        col("hapax").cast("long").as("hapax"),
        expr("(1000000 * hapax) div vocab").cast("long")
          .as("hapax_ppm"))
  }

  /** Cramér's V association between two CATEGORICAL columns — the
    * column-pair profiler ("is source predictive of language?"):
    * χ² over the full r×c contingency grid (absent cells still
    * contribute their expectation) with every term the exact
    * integral ⌊10⁶·(O·N − R·C)²/(R·C·N)⌋ (per-cell quantization is
    * the contract; quotients are bounded by 10⁶·N so `div` never
    * exceeds a long — the q196 rule), and V² = χ²/(N·(min(r,c)−1))
    * reported as exact ppm. Returns one row
    * (n, dof_min, chi2_micro, v2_ppm); V = √(v2_ppm/10⁶).
    *
    * Scale: ONE (a, b) map-side count; the grid is the bounded
    * |r|×|c| cross of the two marginal frames. Declared-vocabulary
    * rule applies — categorical columns, not open ids.
    */
  def cramersV2(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val D = "decimal(38,0)"
    val o = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__r"), col(bCol).as("__c"))
      .agg(count(lit(1)).as("__o"))
    val rt = o.groupBy(col("__r")).agg(sum(col("__o")).as("__rn"))
    val ct = o.groupBy(col("__c")).agg(sum(col("__o")).as("__cn"))
    val nn = o.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__r")).as("__nr"),
      countDistinct(col("__c")).as("__nc"))
    rt.crossJoin(ct)
      .join(o, Seq("__r", "__c"), "left")
      .na.fill(0L, Seq("__o"))
      .crossJoin(broadcast(nn))
      .select(expr(s"""(CAST(1000000 AS $D)
          * (CAST(__o AS $D) * __n - CAST(__rn AS $D) * __cn)
          * (CAST(__o AS $D) * __n - CAST(__rn AS $D) * __cn))
        div (CAST(__rn AS $D) * __cn * __n)""").as("__t"),
        col("__n"), least(col("__nr"), col("__nc")).as("__k"))
      .agg(max(col("__n")).cast("long").as("n"),
        (max(col("__k")) - 1).cast("long").as("dof_min"),
        sum(col("__t")).cast("long").as("chi2_micro"),
        expr(s"""CAST(SUM(__t) div (CAST(MAX(__n) AS $D)
          * (MAX(__k) - 1)) AS BIGINT)""").as("v2_ppm"))
  }

  /** Spearman rank correlation between two integer columns, exact:
    * midranks kept integral by doubling (the [[mannWhitney]] trick),
    * then the Pearson-over-midranks identity with n-scaled integer
    * accumulators A = nΣxy−ΣxΣy, Vx = nΣx²−(Σx)², Vy likewise —
    * ρ = A/√(VxVy) never forms as a float; the report is the SIGNED
    * SQUARE sign(A)·⌊⌊A²/Vx⌋·10⁶/Vy⌋ ppm — the divide-CHAIN
    * quantization, chosen because every intermediate stays ≤ Vy
    * (Cauchy–Schwarz: A² ≤ Vx·Vy): Spark's `div` RETURNS A LONG and
    * silently truncates a wider decimal quotient (no ANSI error —
    * measured: Vx·Vy div 10⁶ at 10²⁶ wrapped), so the formula must
    * never ask `div` for a >64-bit result; the SQL mirror replays the
    * same chain in HUGEINT so the two floors agree bit-for-bit.
    * |ρ| = √(|value|/10⁶), sign is ρ's sign. Degenerate variance (a
    * constant column) reports 0. Returns one row
    * (n, rho2_signed_ppm).
    *
    * Exact-range contract: accumulators live in decimal(38,0) ⇄
    * HUGEINT; the chain's long quotients are Cauchy–Schwarz-bounded
    * by Vy ≈ 4n⁴, which tops a long near n ≈ 3.9·10⁴ PAIRS — this is
    * the exact audit form over grouped/rolled-up frames (customers,
    * days, shards); rank-sample first beyond that.
    *
    * Scale: two distinct-value count frames (map-side combined — the
    * ksDrift exchange, one per variable), two bounded cumulative
    * windows, one scalar fold.
    */
  def spearmanRho2(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
    def midranks(c: String): DataFrame = {
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy(col(c)).agg(count(lit(1)).as("__c"))
        .withColumn(s"${c}_r2",
          lit(2L) * coalesce(sum(col("__c")).over(w), lit(0L)) +
            col("__c") + 1L)
        .select(col(c), col(s"${c}_r2"))
    }
    base.join(midranks("__x"), Seq("__x"))
      .join(midranks("__y"), Seq("__y"))
      .agg(count(lit(1)).cast(D).as("__n"),
        sum(col("__x_r2").cast(D)).as("__sx"),
        sum(col("__y_r2").cast(D)).as("__sy"),
        sum(col("__x_r2").cast(D) * col("__y_r2").cast(D)).as("__sxy"),
        sum(col("__x_r2").cast(D) * col("__x_r2").cast(D)).as("__sxx"),
        sum(col("__y_r2").cast(D) * col("__y_r2").cast(D)).as("__syy"))
      .select(col("__n").cast("long").as("n"),
        expr(s"""CAST(CASE WHEN (__n * __sxx - __sx * __sx) > 0
            AND (__n * __syy - __sy * __sy) > 0
          THEN (CASE WHEN __n * __sxy - __sx * __sy >= 0
              THEN 1 ELSE -1 END)
            * ((CAST((((__n * __sxy - __sx * __sy)
                * (__n * __sxy - __sx * __sy))
                div (__n * __sxx - __sx * __sx)) AS decimal(38,0))
              * 1000000) div (__n * __syy - __sy * __sy))
          ELSE 0 END AS BIGINT)""").as("rho2_signed_ppm"))
  }

  /** Category share + uniformity χ² over a DECLARED cell count — the
    * [[graft.operators.Timeseries.dowProfile]] arithmetic for any
    * categorical key (month-of-year k=12, shard id k=N, bucket k=B):
    * per observed category, the count, exact ppm share, and the
    * per-cell χ²-against-uniform term ⌊10⁶·(k·O−N)²/(k·N)⌋; absent
    * categories contribute k·0−N terms only through the declared k in
    * the expectation (callers wanting absent-cell terms union the
    * category domain in first). Returns (cat, n, share_ppm,
    * chi2_term_micro).
    *
    * Scale: ONE category-keyed map-side count; the total rides a
    * one-row broadcast.
    */
  def categoryShareChi2(df: DataFrame, catCol: String,
                        k: Int): DataFrame = {
    require(k >= 2, s"k >= 2, got $k")
    val D = "decimal(38,0)"
    val c = df.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).as("cat"))
      .agg(count(lit(1)).as("n"))
    val tot = c.agg(sum(col("n")).as("__t"))
    c.crossJoin(broadcast(tot))
      .select(col("cat"), col("n").cast("long").as("n"),
        expr(s"(CAST(1000000 AS $D) * n) div __t").cast("long")
          .as("share_ppm"),
        expr(s"""(CAST(1000000 AS $D) * ($k * CAST(n AS $D) - __t)
          * ($k * CAST(n AS $D) - __t))
          div (CAST($k AS $D) * __t)""").cast("long")
          .as("chi2_term_micro"))
  }

  /** Per-GROUP Spearman rank correlation — [[spearmanRho2]] with the
    * midrank windows partitioned by a segment column: one ρ² row per
    * group, the correlation-by-segment matrix every "does X drive Y
    * HERE" question needs (a global ρ happily averages away a
    * Simpson's-paradox sign flip between segments). Same exact
    * machinery: doubled midranks, n-scaled accumulators, the
    * Cauchy–Schwarz-bounded signed-square divide chain. Returns
    * (grp, n, rho2_signed_ppm); same bounded-frame contract per
    * group.
    *
    * Scale: two (group, value) count frames (map-side combined), two
    * group-partitioned cumulative windows, one group-keyed fold —
    * the [[spearmanRho2]] exchanges with `grp` prepended to every
    * key, so no new shuffle class appears.
    */
  def spearmanRho2By(df: DataFrame, grpCol: String, xCol: String,
                     yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    val base = df.filter(col(grpCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(grpCol).as("grp"), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
    def midranks(c: String): DataFrame = {
      val w = Window.partitionBy(col("grp")).orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy(col("grp"), col(c)).agg(count(lit(1)).as("__c"))
        .withColumn(s"${c}_r2",
          lit(2L) * coalesce(sum(col("__c")).over(w), lit(0L)) +
            col("__c") + 1L)
        .select(col("grp"), col(c), col(s"${c}_r2"))
    }
    base.join(midranks("__x"), Seq("grp", "__x"))
      .join(midranks("__y"), Seq("grp", "__y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast(D).as("__n"),
        sum(col("__x_r2").cast(D)).as("__sx"),
        sum(col("__y_r2").cast(D)).as("__sy"),
        sum(col("__x_r2").cast(D) * col("__y_r2").cast(D)).as("__sxy"),
        sum(col("__x_r2").cast(D) * col("__x_r2").cast(D)).as("__sxx"),
        sum(col("__y_r2").cast(D) * col("__y_r2").cast(D)).as("__syy"))
      .select(col("grp"), col("__n").cast("long").as("n"),
        expr(s"""CAST(CASE WHEN (__n * __sxx - __sx * __sx) > 0
            AND (__n * __syy - __sy * __sy) > 0
          THEN (CASE WHEN __n * __sxy - __sx * __sy >= 0
              THEN 1 ELSE -1 END)
            * ((CAST((((__n * __sxy - __sx * __sy)
                * (__n * __sxy - __sx * __sy))
                div (__n * __sxx - __sx * __sx)) AS decimal(38,0))
              * 1000000) div (__n * __syy - __sy * __sy))
          ELSE 0 END AS BIGINT)""").as("rho2_signed_ppm"))
  }

  /** Mann–Whitney U rank-sum comparison of two cohorts — the
    * nonparametric "is A stochastically larger than B" companion to
    * [[ksDrift]] (KS asks "are they different anywhere", U measures
    * the DIRECTION as the probability a random A beats a random B).
    * Exact integers throughout: ties take the statistically-correct
    * MIDRANKS, kept integral by working in doubled ranks — a tied run
    * occupying ranks [c+1, c+k] has midrank·2 = 2c+k+1 — so
    * U·2 = ΣR_A·2 − n_A(n_A+1) is exact and the common-language
    * effect size ρ = U/(n_A·n_B) reports as the usual exact ppm
    * integral. Returns one row (n_a, n_b, u_x2, rho_ppm);
    * ρ ≈ 500 000 means no stochastic dominance.
    *
    * Scale: ONE corpus-scale (value) count keyed by distinct value
    * (map-side combined — the ksDrift exchange), then a cumulative
    * window over the bounded distinct-value frame and a scalar fold.
    */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    val c = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L))
        .as("__na"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L))
          .as("__nb"))
    // cumulative count BEFORE each distinct value — the bounded
    // |values|-row frame, explicitly un-partitioned (ksDrift contract)
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    c.withColumn("__cum",
        coalesce(sum(col("__na") + col("__nb")).over(w), lit(0L)))
      .agg(sum(col("__na")).as("__n1"), sum(col("__nb")).as("__n2"),
        sum(expr(s"CAST(__na AS $D) * " +
          "(2 * __cum + __na + __nb + 1)")).as("__r1x2"))
      .select(col("__n1").cast("long").as("n_a"),
        col("__n2").cast("long").as("n_b"),
        expr(s"CAST(__r1x2 - CAST(__n1 AS $D) * (__n1 + 1) AS BIGINT)")
          .as("u_x2"),
        when(col("__n1") > 0 && col("__n2") > 0,
          expr(s"(CAST(1000000 AS $D) * (__r1x2 - CAST(__n1 AS $D) " +
            s"* (__n1 + 1))) div (CAST(2 AS $D) * __n1 * __n2)"))
          .otherwise(lit(0L)).cast("long").as("rho_ppm"))
  }

  /** Quantile normalization across groups (Bolstad 2003, the
    * batch-effect corrector): each row's value is replaced by the
    * POOLED distribution's value at the row's within-group rank
    * position, so every group ends up with (discretely) the same
    * distribution — mixing corpora whose quality scores were scored
    * by different raters/models is the curation use. Discrete exact
    * form: a row at rank r of n_g maps to pooled rank
    * max(1, ⌈⌈10⁶·r/n_g⌉·N/10⁶⌉) (all integer `div` ceilings, the
    * q47 never-interpolate convention; ties ordered by (value, group,
    * id) so the map is total and engine-portable). Returns the
    * per-row frame (group, id, value, norm_value).
    *
    * Scale: one within-group rank window + ONE global rank over the
    * pooled values (the exact audit form — since round 15 the pooled
    * rank runs TWO-PASS via [[Ranks.twoPass]]: partitioned rank +
    * broadcast bucket offsets, no single-task sort of the pooled
    * per-row frame, so the exact map scales without an approximate
    * twin), then a 1:1 join on the pooled rank.
    */
  def quantileNormalize(df: DataFrame, groupCol: String,
                        valueCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.select(col(groupCol).as("grp"),
      col(valueCol).cast("long").as("__c"), col(idCol).as("__id"))
    val gw = Window.partitionBy(col("grp"))
      .orderBy(col("__c"), col("__id"))
    val r = v.withColumn("__rn", row_number().over(gw))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("grp"))))
    val pooled = Ranks.twoPass(v, col("__c"), asc = true,
        Seq(col("__c"), col("grp"), col("__id")), Some("__prn"))
      .select(col("__prn"), col("__c").as("__nc"))
    val nt = v.agg(count(lit(1)).as("__nt"))
    r.crossJoin(broadcast(nt))
      .withColumn("__prank", greatest(lit(1L).cast("decimal(38,0)"),
        expr("((((CAST(1000000 AS decimal(38,0)) * __rn + __n - 1) " +
          "div __n) * __nt + 999999) div 1000000)")))
      .join(pooled, col("__prank") === col("__prn"))
      .select(col("grp").as(groupCol), col("__id").as(idCol),
        col("__c").as(valueCol), col("__nc").as("norm_value"))
  }

  /** Simpson diversity of a categorical mix per group — the
    * probability two random group members share a category,
    * unbiased (sampling WITHOUT replacement: Σn_i(n_i−1)/(N(N−1))),
    * and its complement — the ecology-standard concentration pair to
    * q166's Gini (which is economic, rank-weighted). Exact ppm
    * integrals in decimal(38,0); a group of ≤ 1 row reports 0/0 (the
    * index is undefined there, and zeros keep downstream folds
    * finite). Returns (group, n_rows, n_cats, simpson_ppm,
    * diversity_ppm).
    *
    * Scale: ONE (group, category) count (map-side combined) then a
    * group-keyed fold over the bounded category frame. No window, no
    * join.
    */
  def simpsonDiversity(df: DataFrame, groupCol: String,
                       catCol: String): DataFrame = {
    val D = "decimal(38,0)"
    df.groupBy(col(groupCol).as("grp"), col(catCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("grp"))
      .agg(sum(col("__n")).as("__nn"),
        sum(expr(s"CAST(__n AS $D) * (__n - 1)")).as("__num"),
        count(lit(1)).as("__k"))
      .select(col("grp").as(groupCol),
        col("__nn").cast("long").as("n_rows"),
        col("__k").cast("long").as("n_cats"),
        when(col("__nn") > 1,
          expr(s"(CAST(1000000 AS $D) * __num) div " +
            s"(CAST(__nn AS $D) * (__nn - 1))"))
          .otherwise(lit(0L)).cast("long").as("simpson_ppm"),
        when(col("__nn") > 1,
          expr(s"(CAST(1000000 AS $D) * (CAST(__nn AS $D) " +
            s"* (__nn - 1) - __num)) div " +
            s"(CAST(__nn AS $D) * (__nn - 1))"))
          .otherwise(lit(0L)).cast("long").as("diversity_ppm"))
  }

  /** Per-group winsorized statistics — outlier clipping at rank-based
    * percentile bounds (the robust pre-training normalizer: clip,
    * then compute stats that a single fat-finger value can't drag):
    * lo/hi are the values at ranks ⌈loPpm·n/10⁶⌉ / ⌈hiPpm·n/10⁶⌉ of
    * the tie-free (value, id) order (DISCRETE quantiles, the q47
    * convention — never interpolated), every value clips into
    * [lo, hi], and the report is (group, n, lo, hi, winsorized sum,
    * clip counts below/above). All exact integer arithmetic — pass an
    * integer value column (cents, micros); rank cut-points are exact
    * `div` expressions.
    *
    * Scale: one rank window per group (a giant group costs one sort
    * run) + a broadcast bounds join. The final stats aggregate
    * map-side combines; sums ride decimal(38,0).
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
                      idCol: String, loPpm: Long = 50000L,
                      hiPpm: Long = 950000L): DataFrame = {
    require(loPpm >= 0 && hiPpm <= 1000000L && loPpm < hiPpm,
      s"need 0 <= loPpm < hiPpm <= 1000000, got ($loPpm, $hiPpm)")
    import org.apache.spark.sql.expressions.Window
    val v = df.select(col(groupCol).as("grp"),
      col(valueCol).cast("long").as("__c"), col(idCol).as("__id"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("__c"), col("__id"))
    val r = v.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
    val b = r.groupBy(col("grp"))
      .agg(max(col("__n")).as("__n"),
        max(when(col("__rn") === greatest(lit(1L),
          expr(s"($loPpm * __n + 999999) div 1000000")), col("__c")))
          .as("__lo"),
        max(when(col("__rn") ===
          expr(s"($hiPpm * __n + 999999) div 1000000"), col("__c")))
          .as("__hi"))
    v.join(b, Seq("grp"))
      .groupBy(col("grp"))
      .agg(max(col("__n")).cast("long").as("n"),
        max(col("__lo")).cast("long").as("lo"),
        max(col("__hi")).cast("long").as("hi"),
        sum(least(greatest(col("__c"), col("__lo")), col("__hi"))
          .cast("decimal(38,0)")).cast("long").as("sum_wins"),
        sum(when(col("__c") < col("__lo"), 1L).otherwise(0L))
          .cast("long").as("n_clip_lo"),
        sum(when(col("__c") > col("__hi"), 1L).otherwise(0L))
          .cast("long").as("n_clip_hi"))
      .select(col("grp").as(groupCol), col("n"), col("lo"), col("hi"),
        col("sum_wins"), col("n_clip_lo"), col("n_clip_hi"))
  }

  /** Population stability index between two cohorts — the third drift
    * monitor next to [[tokenDriftChi2]] (categorical) and [[ksDrift]]
    * (distribution-free): per pre-binned cell,
    * term = (p_a − p_b)·ln(p_a/p_b) with Laplace-(+1)-smoothed
    * proportions p = (n+1)/(total+B), reported as ⌊10⁶·term⌋ — the
    * classic credit-scoring monitor (PSI > 0.1 investigate, > 0.25
    * act). Returns (bin, n_a, n_b, term_micro) ordered by bin; PSI is
    * the client-side sum. Callers bin the value FIRST (the q162
    * declared-grid principle — bin layout is a contract, never
    * inferred); smoothing keeps one-sided bins finite with no epsilon
    * knob.
    *
    * Determinism: proportions are correctly-rounded divisions of
    * exact integers (identical doubles on every engine); ln is the
    * one non-correctly-rounded step — the q72 margin rule applies
    * (gate fixtures audited ≥ 1.2e-2 from every floor boundary at
    * both SFs vs ~1e-9 double-eval drift). The term multiplication
    * `(p_a−p_b)·ln(...)` has no fused multiply-add shape, so engine
    * FMA contraction (the q90 1-ulp lesson) cannot bite.
    *
    * Scale: ONE (group, bin)-keyed count over the scan (map-side
    * combined, output ≤ 2·|bins| cells); totals and the bin count
    * ride a one-row broadcast. Everything after runs on the bounded
    * bin grid.
    */
  def psiDrift(df: DataFrame, groupCol: String, binCol: String,
               groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    val c = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(binCol).isNotNull)
      .groupBy(col(binCol).cast("long").as("bin"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L))
        .as("n_a"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L))
          .as("n_b"))
    val tot = c.agg(sum(col("n_a")).as("__ta"),
      sum(col("n_b")).as("__tb"), count(lit(1)).as("__nb"))
    c.crossJoin(broadcast(tot))
      .withColumn("__pa", (col("n_a") + 1).cast("double") /
        (col("__ta") + col("__nb")).cast("double"))
      .withColumn("__pb", (col("n_b") + 1).cast("double") /
        (col("__tb") + col("__nb")).cast("double"))
      .select(col("bin"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        floor(lit(1000000.0) * ((col("__pa") - col("__pb")) *
          log(col("__pa") / col("__pb")))).cast("long")
          .as("term_micro"))
  }

  /** Per-group WEIGHTED median: the smallest value whose cumulative
    * weight reaches half the group's total (2·cumw ≥ totw — the
    * cross-multiplied test, no division) — the mass-weighted center
    * that the unweighted [[groupQuantiles]] median misses (median
    * document length says half the DOCS are shorter; the
    * n_chars-weighted one says half the BYTES live in shorter docs —
    * the number a packing/budget plan actually needs). Ties on
    * `tieCol` pin the cross-engine order. Returns
    * (grp, n, total_w, wmedian).
    *
    * Scale: one cumulative window per group over the grouped frame.
    */
  def weightedMedian(df: DataFrame, grpCol: String, valueCol: String,
                     weightCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = "decimal(38,0)"
    val base = df.filter(col(grpCol).isNotNull &&
        col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .select(col(grpCol).as("grp"),
        col(valueCol).cast("long").as("__v"),
        col(weightCol).cast("long").cast(D).as("__w"),
        col(tieCol).as("__t"))
    val ord = Window.partitionBy(col("grp"))
      .orderBy(col("__v"), col("__t"))
    base
      .withColumn("__cumw", sum(col("__w")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__totw", sum(col("__w")).over(
        Window.partitionBy(col("grp"))))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("long").as("n"),
        max(col("__totw")).cast("long").as("total_w"),
        min(when(lit(2) * col("__cumw") >= col("__totw"),
          col("__v"))).cast("long").as("wmedian"))
  }

  /** Generic numeric column profiler — the DESCRIBE every feed needs
    * before anything joins it: per named column, row count, null
    * count, exact distinct count, min/max/sum as longs (callers cast
    * or quantize non-integral columns FIRST — the engine never emits
    * a raw double). Returns one row per column
    * (column, n, n_null, n_distinct, min, max, sum).
    *
    * Scale: one pass per column (a distinct aggregate needs its own
    * exchange); columns are enumerated by the caller so the union is
    * |cols| bounded one-row frames.
    */
  def describeNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val D = "decimal(38,0)"
    cols.map { c =>
      df.select(col(c).cast("long").as("__v"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("__v").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_null"),
          countDistinct(col("__v")).cast("long").as("n_distinct"),
          min(col("__v")).cast("long").as("min"),
          max(col("__v")).cast("long").as("max"),
          sum(col("__v").cast(D)).cast("long").as("sum"))
        .select(lit(c).as("column"), col("n"), col("n_null"),
          col("n_distinct"), col("min"), col("max"), col("sum"))
    }.reduce(_ unionByName _)
  }

  /** Group-size histogram: how many keys have exactly s rows, and how
    * many rows those keys hold — [[graft.operators.Dedup.clusterSizeHistogram]]'s
    * shape for ANY grouping key (items per order, events per user,
    * chunks per doc); the fan-out-distribution view every join plan
    * implicitly bets on. Returns (size, n_groups, n_rows).
    *
    * Scale: two map-side aggregates (key count, then size rollup).
    */
  def groupSizeHistogram(df: DataFrame, keyCol: String): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("__sz").cast("long").as("size"),
        col("n_groups").cast("long").as("n_groups"),
        (col("__sz") * col("n_groups")).cast("long").as("n_rows"))

  /** Herfindahl–Hirschman concentration index per group: each key's
    * value share in ppm (floored FIRST — the quantization both
    * engines replay), then HHI = ⌊Σ share²/10⁶⌋ ppm — 10⁶ =
    * monopoly, 10⁶/k = k equal players; the antitrust-grade
    * concentration number next to [[giniConcentration]] (Gini
    * measures inequality of the whole curve, HHI weights the top).
    * Returns (grp, n_keys, hhi_ppm).
    *
    * Scale: one (group, key) map-side rollup, a group-total
    * broadcast-or-hash join, one group fold; share² ≤ 10¹² so the
    * decimal sum never strains.
    */
  def hhiConcentration(df: DataFrame, grpCol: String, keyCol: String,
                       valueCol: String): DataFrame = {
    val D = "decimal(38,0)"
    val rev = df.filter(col(grpCol).isNotNull && col(keyCol).isNotNull
        && col(valueCol).isNotNull)
      .groupBy(col(grpCol).as("grp"), col(keyCol).as("__k"))
      .agg(sum(col(valueCol).cast("long").cast(D)).as("__v"))
    val tot = rev.groupBy(col("grp"))
      .agg(sum(col("__v")).as("__t"), count(lit(1)).as("__ns"))
    rev.join(tot, Seq("grp"))
      .select(col("grp"), col("__ns"),
        expr(s"(CAST(1000000 AS $D) * __v) div __t").as("__s"))
      .groupBy(col("grp"))
      .agg(max(col("__ns")).cast("long").as("n_keys"),
        expr("CAST(SUM(__s * __s) div 1000000 AS BIGINT)")
          .as("hhi_ppm"))
  }

  /** Pareto concentration point: the minimum number of top keys (by
    * summed value, ties on key) whose cumulative value reaches
    * `targetNum/targetDen` of the total — "how many customers are
    * 80% of revenue", the single-number Lorenz summary next to
    * [[giniConcentration]] (Gini says HOW concentrated; this says
    * WHO you can't lose). Exact integers: the threshold test is the
    * cross-multiplied `targetDen·cum ≥ targetNum·total` (no division
    * until the final ppm share). Returns one row
    * (n_keys, k_top, k_share_ppm, total).
    *
    * Scale: one key-summed map-side aggregate, then ONE ordered
    * window over the bounded key frame — the exact audit form (a
    * 10⁹-key frame swaps in a quantile sketch of per-key totals,
    * documented not silent).
    */
  def paretoPoint(df: DataFrame, keyCol: String, valueCol: String,
                  targetNum: Int = 4, targetDen: Int = 5): DataFrame = {
    require(targetDen >= 1 && targetNum >= 1 && targetNum <= targetDen,
      s"need 0 < targetNum/targetDen <= 1, got $targetNum/$targetDen")
    val D = "decimal(38,0)"
    val per = df.filter(col(keyCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(keyCol).as("__k"))
      .agg(sum(col(valueCol).cast("long")).cast(D).as("__v"))
    // rank + running/total sums over the per-key frame TWO-PASS
    // (Ranks.twoPass): the former un-partitioned rank/total windows
    // funnelled a 10⁹-key frame through one task
    Ranks.twoPass(per, col("__v"), asc = false,
        Seq(col("__v").desc, col("__k")), Some("__r"),
        Seq(Ranks.Cum(col("__v"), "__cum", inclusive = true,
          sumType = D, totalOut = Some("__tot"))),
        nOut = Some("__n"))
      .agg(max(col("__n")).cast("long").as("n_keys"),
        min(when(lit(targetDen) * col("__cum") >=
          lit(targetNum) * col("__tot"), col("__r")))
          .cast("long").as("k_top"),
        max(col("__tot")).cast("long").as("total"))
      .select(col("n_keys"), col("k_top"),
        expr(s"CAST((CAST(1000000 AS $D) * k_top) div n_keys " +
          "AS BIGINT)").as("k_share_ppm"),
        col("total"))
  }

  /** Per-group discrete rank quantiles of an integer column — the
    * q47 convention generalized: the value at rank ⌈p·n⌉ of the
    * tie-free (value, tie keys) order, NEVER interpolated (an
    * interpolated percentile averages two longs into a float and the
    * gate flakes), with the rank cut in INTEGER arithmetic
    * (⌈a·n/b⌉ = (a·n + b − 1) div b — q47's `ceil(n·0.95)` double
    * happens to be exact for those constants, this form is exact for
    * ALL of them). Returns (grp, n, p25, p50, p75, p95).
    *
    * Scale: one ranked window per group over the grouped frame.
    */
  def groupQuantiles(df: DataFrame, grpCol: String, valueCol: String,
                     tieCols: Seq[String]): DataFrame = {
    require(tieCols.nonEmpty, "tieCols must pin a total order")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(grpCol))
      .orderBy((col(valueCol) +: tieCols.map(col)).map(_.asc): _*)
    val ranked = df
      .filter(col(grpCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col(grpCol))))
    def q(num: Int, den: Int) =
      max(when(col("__rn") ===
        expr(s"($num * __n + ${den - 1}) div $den"),
        col(valueCol)))
    ranked.groupBy(col(grpCol).as("grp"))
      .agg(max(col("__n")).cast("long").as("n"),
        q(1, 4).cast("long").as("p25"),
        q(1, 2).cast("long").as("p50"),
        q(3, 4).cast("long").as("p75"),
        q(19, 20).cast("long").as("p95"))
  }

  /** Per-group EQUI-DEPTH histogram of an integer column: `bins`
    * buckets of (near-)equal ROW COUNT — the adaptive binning every
    * skewed metric needs (equi-WIDTH bins put 99% of a long-tailed
    * length distribution in bucket 0; equi-depth puts 1/B
    * everywhere). Exact rank form: a row at rank rn of the tie-free
    * (value, tie) order lands in bin ⌊(rn−1)·B/n⌋ (all-integer, bin
    * sizes differ by at most one, deterministic). Returns
    * (grp, bin, n_rows, lo, hi) — lo/hi are ACTUAL data values, and
    * adjacent bins may share a boundary value when ties straddle a
    * cut (rank semantics, the q47 never-interpolate convention).
    *
    * Scale: one rank window per group.
    */
  def equiDepthBins(df: DataFrame, grpCol: String, valueCol: String,
                    tieCols: Seq[String], bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(tieCols.nonEmpty, "tieCols must pin a total order")
    import org.apache.spark.sql.expressions.Window
    df.filter(col(grpCol).isNotNull && col(valueCol).isNotNull)
      .select((Seq(col(grpCol).as("grp"),
        col(valueCol).cast("long").as("__v")) ++
        tieCols.map(col)): _*)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy((col("__v") +: tieCols.map(col)).map(_.asc): _*))
        .cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
      .withColumn("bin", expr(s"((__rn - 1) * $bins) div __n"))
      .groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min(col("__v")).cast("long").as("lo"),
        max(col("__v")).cast("long").as("hi"))
  }

  /** Kendall rank correlation (τ-b) between two integer columns of a
    * BOUNDED keyed frame — the concordance-counting sibling of
    * [[spearmanRho2]] (τ is the probability a random pair agrees in
    * order minus the probability it disagrees; more robust to
    * outliers than ρ, and its pair accounting is exact integers with
    * no midranks needed). Every unordered pair (keyed by `keyCol`,
    * a < b) classifies as concordant, discordant, x-tied-only,
    * y-tied-only, or both-tied; τ-b = (C−D)/√((C+D+Tx)(C+D+Ty)).
    * The report is the SIGNED SQUARE
    * sign(C−D)·⌊⌊(C−D)²/(C+D+Tx)⌋·10⁶/(C+D+Ty)⌋ ppm — the
    * [[spearmanRho2]] divide-CHAIN, every quotient bounded ≤ 10⁶·
    * (C+D+Ty) by Cauchy–Schwarz so Spark's long-returning `div`
    * never truncates. Degenerate frames (all x tied or all y tied)
    * report 0. Returns one row
    * (n, n_pairs, concordant, discordant, tau2_signed_ppm).
    *
    * Bounded-frame contract: pairing is the n²/2 self-join — this is
    * the exact audit form over grouped/rolled-up frames (nations,
    * days, shards; n ≤ ~10⁴). Accumulators in decimal(38,0) ⇄
    * HUGEINT.
    */
  def kendallTau2(df: DataFrame, keyCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val D = "decimal(38,0)"
    val base = df.filter(col(keyCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).as("__k"), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
    val n = base.agg(count(lit(1)).as("__n"))
    base.select(col("__k").as("__k1"), col("__x").as("__x1"),
        col("__y").as("__y1"))
      .join(base.select(col("__k").as("__k2"), col("__x").as("__x2"),
        col("__y").as("__y2")), col("__k1") < col("__k2"))
      .agg(
        count(lit(1)).cast(D).as("__np"),
        sum(when((col("__x1") < col("__x2") &&
            col("__y1") < col("__y2")) ||
          (col("__x1") > col("__x2") && col("__y1") > col("__y2")),
          1L).otherwise(0L)).cast(D).as("__c"),
        sum(when((col("__x1") < col("__x2") &&
            col("__y1") > col("__y2")) ||
          (col("__x1") > col("__x2") && col("__y1") < col("__y2")),
          1L).otherwise(0L)).cast(D).as("__d"),
        sum(when(col("__x1") === col("__x2") &&
          col("__y1") =!= col("__y2"), 1L).otherwise(0L))
          .cast(D).as("__tx"),
        sum(when(col("__y1") === col("__y2") &&
          col("__x1") =!= col("__x2"), 1L).otherwise(0L))
          .cast(D).as("__ty"))
      .crossJoin(broadcast(n))
      .select(col("__n").cast("long").as("n"),
        col("__np").cast("long").as("n_pairs"),
        col("__c").cast("long").as("concordant"),
        col("__d").cast("long").as("discordant"),
        expr(s"""CAST(CASE WHEN (__c + __d + __tx) > 0
            AND (__c + __d + __ty) > 0
          THEN (CASE WHEN __c >= __d THEN 1 ELSE -1 END)
            * ((CAST((((__c - __d) * (__c - __d))
                div (__c + __d + __tx)) AS decimal(38,0))
              * 1000000) div (__c + __d + __ty))
          ELSE 0 END AS BIGINT)""").as("tau2_signed_ppm"))
  }

  /** Per-group word-complexity profile — the readability family's
    * sentence-free core (Flesch/LIX need sentence boundaries; corpus
    * text routinely has none, so this reports the word-level signals
    * those formulas are built from): per group, total words
    * (maximal `[a-z]+` runs of the lowercased text), exact mean word
    * length in milli-chars, vowel-GROUP density (maximal
    * `[aeiouy]+` runs — the standard syllable-count proxy) in
    * milli-groups-per-word, and the LIX long-word (≥ `longLen`
    * chars) share in ppm. All integer: per-doc counts are exact,
    * group ratios are single floor divisions of decimal(38,0) sums.
    * Returns (grp, n_docs, words, wordlen_milli, vgroups_milli,
    * longword_ppm).
    *
    * Scale: ONE map-side group aggregate over the scan; the regex
    * extraction is per-row codegen'd work, no exchange beyond the
    * |groups| rollup.
    */
  def wordComplexity(df: DataFrame, grpCol: String, textCol: String,
                     longLen: Int = 6): DataFrame = {
    require(longLen >= 1, s"longLen >= 1, got $longLen")
    val D = "decimal(38,0)"
    df.filter(col(grpCol).isNotNull && col(textCol).isNotNull)
      .select(col(grpCol).as("grp"),
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")
          .as("__w"),
        expr(s"CAST(length(regexp_replace(lower($textCol), " +
          s"'[^a-z]', '')) AS $D)").as("__c"),
        expr(s"CAST(size(regexp_extract_all(lower($textCol), " +
          s"'[aeiouy]+', 0)) AS $D)").as("__y"))
      .select(col("grp"), col("__c"), col("__y"),
        expr(s"CAST(size(__w) AS $D)").as("__wn"),
        expr(s"CAST(size(filter(__w, t -> length(t) >= $longLen)) " +
          s"AS $D)").as("__lw"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("__wn")).as("__sw"), sum(col("__c")).as("__sc"),
        sum(col("__y")).as("__sy"), sum(col("__lw")).as("__sl"))
      .filter(col("__sw") > 0)
      .select(col("grp"), col("n_docs"),
        col("__sw").cast("long").as("words"),
        expr(s"CAST((CAST(1000 AS $D) * __sc) div __sw AS BIGINT)")
          .as("wordlen_milli"),
        expr(s"CAST((CAST(1000 AS $D) * __sy) div __sw AS BIGINT)")
          .as("vgroups_milli"),
        expr(s"CAST((CAST(1000000 AS $D) * __sl) div __sw AS BIGINT)")
          .as("longword_ppm"))
  }
}
