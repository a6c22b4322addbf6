package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation — the feedback loop every served index
  * needs: an ANN deployment ([[Similarity]]/[[AnnIndex]]/[[LexIndex]])
  * is tuned by measuring its top-k against the exact baseline on a
  * query sample, and re-measured after every index refresh (no
  * reference counterpart; recall@k / MRR are standard public IR
  * methodology, e.g. the ann-benchmarks protocol).
  *
  * Determinism contract (hash-compared oracle): all outputs are exact
  * integers — hit counts, and parts-per-million ratios via integer
  * division (`div` ⇄ DuckDB `//`), never a raw double division.
  *
  * Scale shape: both inputs are bounded top-k lists (≤ |queries|·k
  * rows — the [[TopK.perGroup]] output contract), so everything here
  * is |queries|-scale regardless of corpus size: one equi-join on
  * (qid, id), one per-qid aggregate.
  */
object Eval {

  /** Per-query recall@k (+ MRR) of an approximate top-k list against
    * the exact baseline list.
    *
    * Input frames carry (qidCol, idCol, rkCol) rows — the shape every
    * `*TopK` operator emits; rows with rk > k are ignored so callers
    * can pass deeper lists. Output, ONE row per qid present in
    * `exact`:
    * {{{
    *   qid        BIGINT
    *   n_exact    BIGINT -- baseline rows at rk <= k (k, or fewer near
    *                        a corpus edge)
    *   n_hit      BIGINT -- approx ∩ exact (set intersection on id)
    *   recall_ppm BIGINT -- 1e6 * n_hit div n_exact
    *   mrr_ppm    BIGINT -- 1e6 div (approx rank of the baseline's #1
    *                        id); 0 if the top-1 doc is missed entirely
    * }}}
    * A qid with no approx rows at all scores 0 across the board (the
    * candidate-starved LSH case) — it must SHOW as a zero, not vanish.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, qidCol: String,
                idCol: String, rkCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val ap = approx.select(col(qidCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"),
        col(rkCol).cast("long").as("ark"))
      .filter(col("ark") <= k)
    val ex = exact.select(col(qidCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"),
        col(rkCol).cast("long").as("erk"))
      .filter(col("erk") <= k)
    // one (qid, id) equi-join over two ≤|queries|·k-row frames; the
    // left join keeps baseline rows the approx list missed
    val j = ex.join(ap, Seq("qid", "id"), "left")
    j.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(when(col("ark").isNotNull, 1L)), lit(0L))
          .as("n_hit"),
        // MRR of the baseline's top-1 id: 1e6 div its approx rank
        coalesce(max(when(col("erk") === 1 && col("ark").isNotNull,
          expr("1000000 div ark"))), lit(0L)).as("mrr_ppm"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        expr("(1000000 * n_hit) div n_exact").as("recall_ppm"),
        col("mrr_ppm"))
  }

  /** Quantized position weight for nDCG: ⌊1e6 / log2(1+i)⌋. Computed
    * ONCE driver-side and embedded as literals in BOTH the Spark plan
    * and the oracle SQL (the hyperplane-literal precedent) — the
    * irrational log2 weights never cross an engine boundary, so the
    * gate needs no margin audit at all.
    */
  def dcgWeight(i: Int): Long =
    math.floor(1000000.0 / (math.log(1.0 + i) / math.log(2.0))).toLong

  /** Per-query nDCG@k of an approximate top-k list against the exact
    * baseline, with graded relevance DERIVED from the baseline rank:
    * rel(doc) = k + 1 − erk (the baseline's #1 doc grades k, its #k
    * grades 1, anything outside grades 0). All-integer:
    * {{{
    *   dcg_q    = Σ_{approx pos i} rel(doc_i) · dcgWeight(i)
    *   idcg_q   = Σ_{i ≤ n_exact} (k + 1 − i) · dcgWeight(i)
    *   ndcg_ppm = 1e6 · dcg_q div idcg_q
    * }}}
    * One row per qid present in `exact`; a qid with no approx rows
    * scores 0. Same bounded-list scale shape as [[recallAtK]].
    */
  def ndcgAtK(approx: DataFrame, exact: DataFrame, qidCol: String,
              idCol: String, rkCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val w: Column = element_at(
      map((1 to k).flatMap(i => Seq(lit(i.toLong), lit(dcgWeight(i)))): _*),
      col("ark"))
    val ap = approx.select(col(qidCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"),
        col(rkCol).cast("long").as("ark"))
      .filter(col("ark") <= k)
    val ex = exact.select(col(qidCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"),
        col(rkCol).cast("long").as("erk"))
      .filter(col("erk") <= k)
    val idcgByN: Column = element_at(
      map((1 to k).flatMap { n =>
        Seq(lit(n.toLong), lit((1 to n).map(i =>
          (k + 1 - i).toLong * dcgWeight(i)).sum))
      }: _*), col("n_exact"))
    // dcg rides the same left join as recallAtK: baseline rows keep
    // their grade, approx-side rank supplies the position weight
    ex.join(ap, Seq("qid", "id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(when(col("ark").isNotNull,
          (lit(k + 1).cast("long") - col("erk")) * w)), lit(0L))
          .as("dcg_q"))
      .select(col("qid"), col("n_exact"), col("dcg_q"),
        idcgByN.as("idcg_q"))
      .select(col("qid"), col("n_exact"), col("dcg_q"), col("idcg_q"),
        expr("(1000000 * dcg_q) div idcg_q").as("ndcg_ppm"))
  }

  /** ROUGE-N text-overlap evaluation (Lin 2004, "ROUGE: A Package for
    * Automatic Evaluation of Summaries" §2 — the clipped n-gram
    * co-occurrence family): per (candidate, reference) text pair, the
    * clipped n-gram overlap `Σ_g min(count_cand(g), count_ref(g))` and
    * the derived precision / recall / F1. The generation-quality
    * measure of a summarize/rewrite pipeline (the engine's
    * [[graft.pipelines.Transcripts]] map-reduce summarization seam),
    * and equally the candidate-vs-source overlap score data-curation
    * uses to flag near-extractive rewrites.
    *
    * Determinism contract: ALL outputs exact integers — gram counts
    * and ppm ratios via integer division (`div` ⇄ `//`). F1 needs no
    * harmonic-mean double: with P = o/tc and R = o/tr,
    * F1 = 2PR/(P+R) = 2o/(tc+tr) — one integral division.
    *
    * n-grams are [[graft.functions.TextFunctions.shingles]] windows
    * over NORMALIZED tokens (multiset, short-text truncated window
    * included) so the gate shares the corpus tokenization convention.
    *
    * Scale shape: pair-keyed throughout — one narrow shingle explode
    * per side, per-(pair, gram-md5) counts with map-side partials, one
    * (pair, gram) equi-join of the two count relations (inner: only
    * grams present in BOTH sides contribute to clipped overlap), one
    * pair-keyed rollup. No corpus self-join; cost is linear in total
    * grams. Returns one row per pair:
    * (pair_id, overlap, cand_grams, ref_grams, p_ppm, r_ppm, f1_ppm);
    * a side with no grams (empty/NULL text) scores 0 ppm.
    */
  def rougeN(pairs: DataFrame, pairIdCol: String, candCol: String,
             refCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n >= 1, got $n")
    import graft.functions.TextFunctions
    // coalesce NULL texts to empty gram arrays: shingles(NULL) is a
    // NULL array whose size() is -1 under legacy sizeOfNull, which
    // would emit a NEGATIVE gram count in a documented exact-count
    // column — a NULL side scores 0 like an empty one
    def grams(c: String) = coalesce(
      TextFunctions.shingles(col(c), n),
      array().cast("array<string>"))
    val base = pairs.repartition(graft.Par.n, col(pairIdCol))
      .select(col(pairIdCol).cast("long").as("pair_id"),
        grams(candCol).as("__cg"), grams(refCol).as("__rg"))
    // narrow, recomputed per consumer rather than pinning (the
    // dupNgramCoverage trade); grams travel as md5 — 16 bytes instead
    // of the n-token string on every exchange
    def counts(side: String, out: String) = base
      .select(col("pair_id"), explode(col(side)).as("__g"))
      .groupBy(col("pair_id"), md5(col("__g")).as("__gh"))
      .agg(count(lit(1)).as(out))
    val ov = counts("__cg", "__cc")
      .join(counts("__rg", "__cr"), Seq("pair_id", "__gh"))
      .groupBy(col("pair_id"))
      .agg(sum(least(col("__cc"), col("__cr"))).as("overlap"))
    base.select(col("pair_id"), size(col("__cg")).cast("long")
          .as("cand_grams"),
        size(col("__rg")).cast("long").as("ref_grams"))
      .join(ov, Seq("pair_id"), "left")
      .select(col("pair_id"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        col("cand_grams"), col("ref_grams"))
      .select(col("pair_id"), col("overlap"), col("cand_grams"),
        col("ref_grams"),
        when(col("cand_grams") > 0,
          expr("(1000000 * overlap) div cand_grams"))
          .otherwise(lit(0L)).as("p_ppm"),
        when(col("ref_grams") > 0,
          expr("(1000000 * overlap) div ref_grams"))
          .otherwise(lit(0L)).as("r_ppm"),
        when(col("cand_grams") + col("ref_grams") > 0,
          expr("(2000000 * overlap) div (cand_grams + ref_grams)"))
          .otherwise(lit(0L)).as("f1_ppm"))
  }

  /** Pair-set precision/recall — the screen-quality evaluator for the
    * dedup candidate family ([[Dedup.blockingPairs]],
    * `lshCandidatePairs`, SimHash banding, embedding LSH): an
    * approximate pair screen against the exact truth set, as ONE row
    * of exact integers. Both sides canonicalize to (min, max) and
    * dedup first, so edge direction and repeats can't skew the counts;
    * the F1 is the same 2h/(nₐ+nₑ) single-division identity as
    * [[rougeN]]'s.
    *
    * Scale shape: candidate/truth pair sets are screen outputs —
    * orders of magnitude below corpus scale by construction — and the
    * measure is one (a, b) equi-join plus one global fold. Returns
    * (n_approx, n_exact, n_hit, precision_ppm, recall_ppm, f1_ppm).
    */
  def pairsPrecisionRecall(approx: DataFrame, exact: DataFrame,
                           aCol: String, bCol: String): DataFrame = {
    def canon(df: DataFrame) = df.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val a = canon(approx).withColumn("__ina", lit(1L))
    val e = canon(exact).withColumn("__ine", lit(1L))
    a.join(e, Seq("a", "b"), "full")
      .agg(coalesce(sum(col("__ina")), lit(0L)).as("n_approx"),
        coalesce(sum(col("__ine")), lit(0L)).as("n_exact"),
        coalesce(sum(col("__ina") * col("__ine")), lit(0L)).as("n_hit"))
      .select(col("n_approx"), col("n_exact"), col("n_hit"),
        when(col("n_approx") > 0,
          expr("(1000000 * n_hit) div n_approx"))
          .otherwise(lit(0L)).as("precision_ppm"),
        when(col("n_exact") > 0,
          expr("(1000000 * n_hit) div n_exact"))
          .otherwise(lit(0L)).as("recall_ppm"),
        when(col("n_approx") + col("n_exact") > 0,
          expr("(2000000 * n_hit) div (n_approx + n_exact)"))
          .otherwise(lit(0L)).as("f1_ppm"))
  }

  /** ROC AUC of an integer score against a binary label, EXACT via the
    * Mann–Whitney identity: AUC = (U + T/2)/(nP·nN) with U the
    * (pos, neg) pairs the score orders correctly and T the tied pairs
    * — kept as `(1e6·(2U + T)) div (2·nP·nN)`, one integral division,
    * no rank interpolation. The quality-signal selector: before
    * training a [[Classifier]] on a proxy signal (perplexity, length,
    * rule count), measure whether the signal RANKS keep-vs-drop at
    * all.
    *
    * Scores must be integers (fixed-point quantized upstream — the
    * [[Classifier.score]] `z` contract); labels are 0/1. Scale
    * shape: one (score)-keyed exact aggregate with map-side partials,
    * then a TWO-PASS running sum over the DISTINCT-SCORE relation
    * ([[Ranks.twoPass]] — a near-unique raw score no longer funnels
    * the distinct-score frame through one task). Returns one row
    * (n_pos, n_neg, auc_ppm).
    */
  def aucPpm(df: DataFrame, scoreCol: String,
             labelCol: String): DataFrame = {
    val g = df.select(col(scoreCol).cast("long").as("s"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
    Ranks.twoPass(g, col("s"), asc = true, Seq(col("s")), None,
        Seq(Ranks.Cum(col("n"), "nb", inclusive = false)))
      .agg(sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"),
        sum(lit(2L) * col("p") * col("nb") + col("p") * col("n"))
          .as("__num"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("(1000000 * __num) div (2 * n_pos * n_neg)"))
          .otherwise(lit(0L)).as("auc_ppm"))
  }

  /** Multiclass confusion matrix: (actual, predicted, n,
    * row_share_ppm) — the per-cell count and its exact ppm share of
    * the actual class's row (the recall diagonal reads directly;
    * precision is the column-wise fold of the same frame). ONE
    * (actual, predicted) map-side aggregate; the row totals ride a
    * bounded |classes|-row broadcast join.
    */
  def confusionMatrix(scored: DataFrame, actualCol: String,
                      predCol: String): DataFrame = {
    val c = scored
      .filter(col(actualCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(actualCol).as("actual"),
        col(predCol).as("predicted"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("actual")).agg(sum(col("n")).as("__t"))
    c.join(broadcast(tot), Seq("actual"))
      .select(col("actual"), col("predicted"),
        col("n").cast("long").as("n"),
        expr("(1000000 * n) div __t").cast("long")
          .as("row_share_ppm"))
  }

  /** Binary confusion matrix + exact ppm operating point for a
    * 0/1 prediction column vs a 0/1 label column: one row
    * (tp, fp, fn, tn, precision_ppm, recall_ppm, f1_ppm), all
    * integral (`div` ratios; F1 via the single-division identity
    * 2·tp/(2·tp+fp+fn) — no intermediate float precision/recall).
    * Zero-denominator cells report 0 (no positives predicted /
    * present ⇒ the metric is vacuous, and a NULL would poison
    * downstream arithmetic). ONE map-side-combined scalar aggregate
    * over the scored scan.
    */
  def confusionPpm(scored: DataFrame, predCol: String,
                   yCol: String): DataFrame = {
    val p = col(predCol).cast("long")
    val y = col(yCol).cast("long")
    scored
      .agg(sum(when(p === 1L && y === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(p === 1L && y === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(p === 0L && y === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(p === 0L && y === 0L, 1L).otherwise(0L)).as("tn"))
      .select(
        coalesce(col("tp"), lit(0L)).cast("long").as("tp"),
        coalesce(col("fp"), lit(0L)).cast("long").as("fp"),
        coalesce(col("fn"), lit(0L)).cast("long").as("fn"),
        coalesce(col("tn"), lit(0L)).cast("long").as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          expr("(1000000 * tp) div (tp + fp)")).otherwise(lit(0L))
          .as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("(1000000 * tp) div (tp + fn)")).otherwise(lit(0L))
          .as("recall_ppm"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          expr("(2000000 * tp) div (2 * tp + fp + fn)"))
          .otherwise(lit(0L)).as("f1_ppm"))
  }

  /** Calibration-by-bins + per-bin Brier accounting for a fixed-point
    * probability column (a [[Classifier]] `p` in [0, scale]): bin p
    * into `bins` equal-width cells and report, per bin, the count,
    * the positive count, the MEAN PREDICTED probability and the
    * OBSERVED positive rate (both exact ppm — a calibrated scorer has
    * them close per bin), plus the bin's Brier contribution
    * Σ(p − y·scale)² scaled to ppm of n·scale². All integer
    * arithmetic in decimal(38,0) — p is already fixed-point, y is
    * 0/1, so no float ever forms (the q122 zero-transcendental
    * discipline extends to its evaluation).
    *
    * Returns (bin, n, n_pos, mean_p_ppm, pos_rate_ppm, brier_ppm)
    * — reliability-diagram rows; overall Brier/ECE are client-side
    * folds of this ≤ `bins`-row frame.
    *
    * Scale: ONE bin-keyed aggregate over the scored scan with
    * map-side partials; output is `bins` rows. Nothing else moves.
    */
  def calibrationBins(scored: DataFrame, pCol: String, yCol: String,
                      scale: Long, bins: Int = 10): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val D = "decimal(38,0)"
    scored
      .select(least(lit(bins - 1),
        expr(s"(CAST($bins AS $D) * $pCol) div $scale"))
        .cast("long").as("bin"),
        col(pCol).cast("long").as("__p"),
        col(yCol).cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__y")).as("n_pos"),
        sum(col("__p").cast(D)).as("__sp"),
        sum(expr(s"CAST(__p - __y * $scale AS $D) " +
          s"* CAST(__p - __y * $scale AS $D)")).as("__sq"))
      .select(col("bin"), col("n").cast("long").as("n"),
        col("n_pos").cast("long").as("n_pos"),
        expr(s"(CAST(1000000 AS $D) * __sp) div " +
          s"(CAST(n AS $D) * $scale)").cast("long").as("mean_p_ppm"),
        expr(s"(CAST(1000000 AS $D) * n_pos) div n").cast("long")
          .as("pos_rate_ppm"),
        expr(s"(CAST(1000000 AS $D) * __sq) div " +
          s"(CAST(n AS $D) * CAST($scale AS $D) * $scale)")
          .cast("long").as("brier_ppm"))
  }
}
