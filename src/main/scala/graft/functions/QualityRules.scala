package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style quality-rule filtering (Rae et al. 2021 §A1.1 heuristics,
  * the standard pretraining-corpus gate; north-star operator — the
  * reference has no corpus filtering). A rule set is data: named
  * (measure, pass) pairs over one document column, so callers can add,
  * drop, or re-threshold rules and still get one narrow codegen'd
  * projection — no UDFs, no shuffle, fully pushdown-friendly.
  */
object QualityRules {

  /** Default thresholds ≈ Gopher's published ones (word count bounds,
    * mean word length band, symbol-to-word ratio, alphabetic-word
    * fraction, minimum stopword hits).
    */
  final case class Config(
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaWordFrac: Double = 0.8,
      minStopwordHits: Long = 2)

  /** Per-document measures, each an exact-integer count or a single
    * double division of exact integers (so any SQL mirror reproduces
    * them bit-for-bit).
    */
  def measures(text: Column): Seq[(String, Column)] =
    measuresOf(text, TextFunctions.normalizeText(text),
      TextFunctions.tokens(text))

  /** [[measures]] over pre-computed (nrm, toks) columns — the hoisted
    * form (see [[TextFunctions.tokenCountOf]]): the five measures
    * re-tokenize the text once each unless nrm/toks are materialized in
    * their own projection first.
    */
  def measuresOf(text: Column, nrm: Column,
                 toks: Column): Seq[(String, Column)] = {
    val nTok = TextFunctions.tokenCountOf(toks, nrm)
    val meanLen = when(nTok > 0,
      length(regexp_replace(nrm, " ", ""))
        .cast("double") / nTok.cast("double")).otherwise(lit(0.0))
    // Gopher's symbol signals: '#' and '...' occurrences per word
    val hashes = length(text) - length(regexp_replace(text, "#", ""))
    val ellipses = (length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = when(nTok > 0,
      (hashes + ellipses).cast("double") / nTok.cast("double"))
      .otherwise(lit(0.0))
    val alphaWords = TextFunctions.alphaWordsOf(toks)
    val alphaFrac = when(nTok > 0,
      alphaWords.cast("double") / nTok.cast("double")).otherwise(lit(0.0))
    Seq(
      "n_words" -> nTok,
      "mean_word_len" -> meanLen,
      "symbol_ratio" -> symbolRatio,
      "alpha_word_frac" -> alphaFrac,
      "stopword_hits" -> TextFunctions.markerHitsOf(toks, "en"))
  }

  /** Named pass/fail rules over the measure columns (by name, so they
    * compose with [[annotate]]'s output or any frame carrying them).
    */
  def rules(cfg: Config): Seq[(String, Column)] = Seq(
    "r_word_count" -> col("n_words").between(cfg.minWords, cfg.maxWords),
    "r_mean_word_len" -> col("mean_word_len")
      .between(cfg.minMeanWordLen, cfg.maxMeanWordLen),
    "r_symbol_ratio" -> (col("symbol_ratio") <= cfg.maxSymbolRatio),
    "r_alpha_words" -> (col("alpha_word_frac") >= cfg.minAlphaWordFrac),
    "r_stopwords" -> (col("stopword_hits") >= cfg.minStopwordHits))

  /** The whole rule set as one filter predicate (for pipelines that
    * gate without materializing per-rule flags). Same measures, same
    * thresholds, one conjunction.
    */
  def keep(text: Column, cfg: Config = Config()): Column =
    keepOf(text, TextFunctions.normalizeText(text),
      TextFunctions.tokens(text), cfg)

  /** [[keep]] over pre-computed (nrm, toks) columns — the hoisted form
    * for hot filters: materialize nrm/toks in a select first, filter on
    * this, drop the aux columns (q50/q57's gate shape).
    */
  def keepOf(text: Column, nrm: Column, toks: Column,
             cfg: Config = Config()): Column = {
    val m = measuresOf(text, nrm, toks).toMap
    m("n_words").between(cfg.minWords, cfg.maxWords) &&
      m("mean_word_len").between(cfg.minMeanWordLen, cfg.maxMeanWordLen) &&
      (m("symbol_ratio") <= cfg.maxSymbolRatio) &&
      (m("alpha_word_frac") >= cfg.minAlphaWordFrac) &&
      (m("stopword_hits") >= cfg.minStopwordHits)
  }

  /** The hoisted quality gate as one call: materialize (__nrm, __toks)
    * once, filter on [[keepOf]] behind a pushdown barrier
    * ([[graft.plans.PlanShape.hoistFilter]] — without it Catalyst
    * substitutes the hoisted aliases into the predicate and
    * re-tokenizes the document once per measure reference), then drop
    * the aux columns.
    */
  def gate(df: DataFrame, textCol: String,
           cfg: Config = Config()): DataFrame =
    graft.plans.PlanShape.hoistFilter(df,
      Seq("__nrm" -> TextFunctions.normalizeText(col(textCol)),
        "__toks" -> TextFunctions.tokens(col(textCol))),
      keepOf(col(textCol), col("__nrm"), col("__toks"), cfg))
      .drop("__nrm", "__toks")

  /** Measures + per-rule flags (1/0 longs — portable hashing) + overall
    * `keep`. Tokenization/normalization run once in their own
    * projection; filter on `keep === 1` to gate.
    */
  def annotate(df: DataFrame, textCol: String,
               cfg: Config = Config()): DataFrame = {
    val base = df.withColumn("__qr_nrm",
        TextFunctions.normalizeText(col(textCol)))
      .withColumn("__qr_toks", TextFunctions.tokens(col(textCol)))
    val withMeasures = measuresOf(col(textCol), col("__qr_nrm"),
        col("__qr_toks")).foldLeft(base) {
      case (d, (n, c)) => d.withColumn(n, c)
    }
    val rs = rules(cfg)
    val withFlags = rs.foldLeft(withMeasures) {
      case (d, (n, c)) => d.withColumn(n, c.cast("long"))
    }
    withFlags.withColumn("keep",
      rs.map { case (n, _) => col(n) === 1L }.reduce(_ && _).cast("long"))
      .drop("__qr_nrm", "__qr_toks")
  }

  /** Filter-funnel audit — the per-rule attrition table every curation
    * report publishes (Gopher §A1.2 / Dolma-style accounting): for each
    * rule, in pipeline order, how many documents fail it outright
    * (`n_fail`), how many are removed AT this stage having passed every
    * earlier rule (`n_attrition` — sums to total − survivors), how many
    * fail ONLY this rule (`n_unique_fail` — what relaxing just it would
    * rescue), and how many survive the pipeline so far (`n_survive`).
    *
    * Scale shape: one narrow codegen'd flag projection, then ONE global
    * aggregate of 4·k exact-long sums — partial map-side, a
    * single-partition exchange carrying 4·k longs per input partition,
    * and a k-row explode on the final row. No window, no join, no
    * doc-keyed shuffle; safe at any corpus size for any sane rule count.
    *
    * `rules` are (name, boolean Column) pairs evaluated over `df`; a
    * NULL flag (e.g. measures over NULL text) counts as FAIL.
    */
  def funnelOf(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "funnelOf: at least one rule")
    val names = rules.map(_._1)
    require(names.distinct.size == names.size,
      s"funnelOf: duplicate rule names in ${names.mkString(", ")}")
    val flagged = df.select(rules.map { case (n, c) =>
      coalesce(c.cast("boolean"), lit(false)).as(n) }: _*)
    def one(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val aggs = names.zipWithIndex.flatMap { case (n, i) =>
      val prefix = names.take(i).map(col).foldLeft(lit(true))(_ && _)
      val others = names.filterNot(_ == n).map(col)
        .foldLeft(lit(true))(_ && _)
      Seq(one(!col(n)).as(s"__f$i"),
        one(prefix && !col(n)).as(s"__a$i"),
        one(others && !col(n)).as(s"__u$i"),
        one(prefix && col(n)).as(s"__s$i"))
    }
    val rows = names.zipWithIndex.map { case (n, i) =>
      struct(lit((i + 1).toLong).as("stage"), lit(n).as("rule"),
        coalesce(col(s"__f$i"), lit(0L)).as("n_fail"),
        coalesce(col(s"__a$i"), lit(0L)).as("n_attrition"),
        coalesce(col(s"__u$i"), lit(0L)).as("n_unique_fail"),
        coalesce(col(s"__s$i"), lit(0L)).as("n_survive"))
    }
    flagged.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
      .orderBy(col("stage"))
  }

  /** [[funnelOf]] over THE standard rule set — [[rules]] applied to
    * materialized [[measuresOf]] columns, so the rule list/thresholds
    * have exactly one definition shared with [[annotate]]/[[keepOf]].
    * Tokenization is hoisted once per row (projection CSE).
    */
  def funnel(df: DataFrame, textCol: String,
             cfg: Config = Config()): DataFrame = {
    val m = df.select(col(textCol).as("__t"),
        TextFunctions.normalizeText(col(textCol)).as("__nrm"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(measuresOf(col("__t"), col("__nrm"), col("__toks"))
        .map { case (n, c) => c.as(n) }: _*)
    funnelOf(m, rules(cfg))
  }
}
