package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gopher-style repetition-rule filtering (Rae et al. 2021 §A1.1, the
  * "repetitious text" signals; north-star operator — the reference has
  * no corpus filtering). Complements [[QualityRules]]' per-word
  * heuristics with n-gram REPETITION measures:
  *
  *   - `top_gram_char_frac` — fraction of n-gram characters contributed
  *     by the single most frequent n-gram (Gopher's "top-2-gram char
  *     fraction", threshold 0.20 for n=2).
  *   - `dup_gram_char_frac` — fraction of n-gram characters carried by
  *     n-grams occurring more than once (Gopher's "dup-n-gram char
  *     fraction", thresholds 0.15…0.10 for n=5…10).
  *
  * Gopher's line-based measures (dup-line fraction) are deliberately
  * absent: they are the same computation with `split(text, '\n')` in
  * place of token n-grams, and the test corpus has no newlines to gate
  * them against.
  *
  * Character accounting: an n-gram's characters are its token characters
  * (separators excluded), each occurrence counted — `cnt *
  * len(gram minus spaces)`. Tail grams shorter than n (docs with fewer
  * than n tokens) keep their literal length. Both numerator and
  * denominator use the same accounting, so any SQL mirror reproduces the
  * single double division bit-for-bit.
  *
  * Scale design: per-doc counting via explode + two hash aggregations
  * ((id, n, gram) then (id)) — n-gram counting for a 10⁵-token document
  * must NOT be a per-row O(G²) higher-order-function scan, and the
  * (id, n, gram) key cannot skew beyond a single document's gram set.
  * Docs with no grams survive through a sentinel element instead of a
  * corpus-size join-back of the id universe. Total: one narrow
  * projection + two exchanges, both pre-aggregated map-side.
  */
object RepetitionRules {

  /** Thresholds. Defaults are tightened from Gopher's published
    * (0.20 top-2-gram, 0.15 dup-5-gram on web text) so both pass and
    * fail branches are exercised on the small synthetic corpus; at
    * production scale callers pass the published values.
    */
  final case class Config(
      topN: Int = 2, maxTopGramCharFrac: Double = 0.10,
      dupN: Int = 3, maxDupGramCharFrac: Double = 0.05) {
    require(topN != dupN, s"topN and dupN must differ (got $topN)")
  }

  /** Per-document repetition measures + pass flags + keep decision.
    * Output: (idCol, top_gram, top_gram_char_frac, dup_gram_char_frac,
    * r_top_gram, r_dup_gram, keep) — one row per input row, empty-gram
    * docs included with zero fractions and `top_gram = ''`. The top gram
    * ties break deterministically by (count, gram) struct ordering.
    */
  def measures(df: DataFrame, idCol: String, textCol: String,
               cfg: Config = Config()): DataFrame = {
    // materialize the two gram arrays in their OWN projection: the
    // kernels are codegen'd (one CSE'd tokenization), while the
    // struct-tagging transforms below are higher-order functions that
    // drop their projection to interpreted eval — keeping the heavy
    // work out of that projection, and referenced only as cheap column
    // refs where the sentinel branch reads it twice.
    // repartition: the shingle projection is the CPU-heavy narrow stage
    // and must parallelize regardless of input splits (collapses into
    // the existing exchange structure when inputs arrive pre-split)
    val grams = df.repartition(graft.Par.n, col(idCol)).select(
      col(idCol),
      TextFunctions.shingles(col(textCol), cfg.topN).as("gt"),
      TextFunctions.shingles(col(textCol), cfg.dupN).as("gd"))
    // tag each gram with its n so one exploded frame serves both
    // measures; the n=0 sentinel keeps gram-less docs in the output
    // without a join-back against the id universe. Index-based explode
    // (sequence + element_at CASE) instead of struct-tagging transforms:
    // the array HOFs dropped the projection to interpreted eval, this
    // form stays inside whole-stage codegen. Empty docs: sequence(0,
    // greatest(-1, 0)) = [0] — exactly the one sentinel row.
    val total = size(col("gt")) + size(col("gd"))
    // NULL text → NULL gram arrays → NULL index array → explode emits
    // nothing: the doc drops from the output, matching the SQL mirrors
    // (UNNEST(NULL)) and the previous struct-tagging form
    val idx = when(col("gt").isNotNull && col("gd").isNotNull,
      sequence(lit(0), greatest(total - 1, lit(0))))
    val exploded = grams
      .select(col(idCol), col("gt"), col("gd"),
        explode(idx).as("__i"))
      .select(col(idCol),
        when(total === 0, lit(0))
          .when(col("__i") < size(col("gt")), lit(cfg.topN))
          .otherwise(lit(cfg.dupN)).as("n"),
        when(total === 0, lit(""))
          .when(col("__i") < size(col("gt")),
            element_at(col("gt"), col("__i") + 1))
          .otherwise(element_at(col("gd"),
            col("__i") - size(col("gt")) + 1)).as("gram"))
    val counts = exploded
      .groupBy(col(idCol), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("chars",
        col("cnt") * length(translate(col("gram"), " ", "")).cast("long"))
    val agg = counts.groupBy(col(idCol)).agg(
      // (cnt, gram) is unique within (id, n), so the struct max is a
      // deterministic argmax with lexicographic gram tie-break
      max(when(col("n") === cfg.topN,
        struct(col("cnt"), col("gram"), col("chars")))).as("top"),
      sum(when(col("n") === cfg.topN, col("chars"))).as("top_all"),
      sum(when(col("n") === cfg.dupN, col("chars"))).as("dup_all"),
      sum(when(col("n") === cfg.dupN && col("cnt") > 1, col("chars")))
        .as("dup_dup"))
    val topFrac = coalesce(
      col("top.chars").cast("double") / col("top_all").cast("double"),
      lit(0.0))
    val dupFrac = coalesce(
      coalesce(col("dup_dup"), lit(0L)).cast("double") /
        col("dup_all").cast("double"),
      lit(0.0))
    agg.select(
        col(idCol),
        coalesce(col("top.gram"), lit("")).as("top_gram"),
        topFrac.as("top_gram_char_frac"),
        dupFrac.as("dup_gram_char_frac"))
      .withColumn("r_top_gram",
        (col("top_gram_char_frac") <= cfg.maxTopGramCharFrac).cast("long"))
      .withColumn("r_dup_gram",
        (col("dup_gram_char_frac") <= cfg.maxDupGramCharFrac).cast("long"))
      .withColumn("keep",
        (col("r_top_gram") === 1L && col("r_dup_gram") === 1L).cast("long"))
  }
}
