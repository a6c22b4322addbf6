package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Per-document keyword extraction — the lightweight document-tagging
  * layer of a curation pipeline (cluster naming, dedup explanations,
  * retrieval facets). Corpus-statistics flavor here; see [[Bm25]] for
  * the query-scoring flavor of the same tf/idf algebra.
  */
object Keywords {

  /** Top-k TF-IDF terms per document: tf(term, doc) ·
    * ⌊10⁶·ln(N/df(term))⌋ under the corpus tokenization
    * ([[graft.functions.TextFunctions.tokens]]), ties broken on the term string.
    * Returns (doc_id, term, tf, score_micro) — `score_micro`/10⁶ is
    * the conventional score; a corpus-wide term (df = N) scores 0 but
    * still ranks by the tie order.
    *
    * Determinism: idf is the quantized-ln form (floor BEFORE the
    * tf product, so scores are exact longs). ln is the only
    * non-correctly-rounded step; the q72 margin rule applies — the
    * gate fixtures' N/df ratios were audited ≥ 3.5e-3 from every
    * floor boundary at both SFs (double-eval drift is ~2e-9), and
    * the divisor N/df is a correctly-rounded division of exact
    * integers, identical on every engine.
    *
    * Scale: tf is a map-side-combined (doc, term) aggregate; df
    * aggregates tf's output BY TERM (vocab-bounded, map-side
    * combined); N rides a one-row broadcast. The tf⋈idf join keys on
    * term — at 100 TB the vocabulary side stays vocab-sized while tf
    * moves once; the final per-doc top-k is [[TopK.perGroup]]'s
    * WindowGroupLimit shape. No corpus self-join, no global sort.
    */
  def tfidfTopK(corpus: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = corpus
      .select(col(idCol).as("__id"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__id"), col("__t"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val n = corpus.agg(count(lit(1)).as("__n"))
    val idf = df.crossJoin(broadcast(n))
      .select(col("__t"),
        floor(lit(1000000.0) *
          log(col("__n").cast("double") / col("__df")))
          .cast("long").as("__idf"))
    val scored = tf.join(idf, Seq("__t"))
      .select(col("__id"), col("__t"),
        col("tf").cast("long").as("tf"),
        (col("tf") * col("__idf")).cast("long").as("score_micro"))
    TopK.perGroup(scored, Seq(col("__id")),
        Seq(col("score_micro").desc, col("__t")), k)
      .select(col("__id").as("doc_id"), col("__t").as("term"),
        col("tf"), col("score_micro"))
  }

  /** The default RAKE stopword/phrase-delimiter list — a fixed small
    * function-word vocabulary (the operator takes any list; this one
    * is the gate's).
    */
  val DefaultStopwords: Seq[String] = Seq("a", "an", "the", "of",
    "and", "to", "in", "is", "it", "for", "on", "with", "as", "at",
    "by", "be", "this", "that", "or", "are", "was", "were", "from",
    "but", "not")

  /** Top-k RAKE keyphrases per document (Rose et al. 2010): candidate
    * phrases are maximal stopword-free token runs of ≤ `maxWords`
    * words (longer runs are discarded entirely, rake-nltk's
    * convention — they also don't feed the word statistics); each
    * word scores deg(w)/freq(w) within its document (deg = Σ lengths
    * of candidate phrases containing it, freq = its candidate
    * occurrences) and a phrase scores the sum over its word
    * occurrences. Scores are exact scaled integrals — each word
    * contributes ⌊10⁶·deg/freq⌋ (`div`, never a float ratio), summed
    * as longs, so the ranking is engine-portable. One deviation from
    * the paper is pinned in the contract: the corpus normalization
    * ([[graft.functions.TextFunctions.normalizeText]]) folds punctuation
    * to spaces BEFORE phrase splitting, so stopwords are the only phrase
    * delimiters (the reference pipelines normalize the same way).
    * Returns (doc_id, phrase, score_micro); duplicate phrases within
    * a doc report once.
    *
    * Scale: every exchange is doc-keyed — the position window, the
    * phrase/word aggregates and their joins all reuse ONE doc hash
    * partitioning (Catalyst collapses them to a single shuffle of the
    * token frame); no corpus-wide key ever forms. A giant document
    * costs one sort run (documents are chunk-bounded upstream —
    * [[Chunker]]).
    */
  def rakeTopK(corpus: DataFrame, idCol: String, textCol: String,
               k: Int, maxWords: Int = 6,
               stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    val stopArr = array(stopwords.map(lit): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__i"))
    val g = corpus
      .select(col(idCol).as("__id"),
        posexplode(TextFunctions.tokens(col(textCol)))
          .as(Seq("__i", "__w")))
      .filter(col("__w") =!= "")
      .withColumn("__stop", array_contains(stopArr, col("__w")))
      .withColumn("__grp",
        sum(col("__stop").cast("long")).over(w))
    val nonStop = g.filter(!col("__stop"))
      .select(col("__id"), col("__grp"), col("__i"), col("__w"))
    val ph = nonStop
      .groupBy(col("__id"), col("__grp"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__i"), col("__w")))),
          x => x.getField("__w")), " ").as("phrase"),
        count(lit(1)).as("__len"))
      .filter(col("__len") <= maxWords)
    val pw = nonStop.join(ph, Seq("__id", "__grp"))
      .select(col("__id"), col("__grp"), col("__w"), col("__len"))
    val ws = pw.groupBy(col("__id"), col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
    val psc = pw.join(ws, Seq("__id", "__w"))
      .groupBy(col("__id"), col("__grp"))
      .agg(sum(expr(
        "(CAST(1000000 AS decimal(38,0)) * __deg) div __freq"))
        .as("__s"))
    val uniq = ph.join(psc, Seq("__id", "__grp"))
      .groupBy(col("__id"), col("phrase"))
      .agg(max(col("__s")).cast("long").as("score_micro"))
    TopK.perGroup(uniq, Seq(col("__id")),
        Seq(col("score_micro").desc, col("phrase")), k)
      .select(col("__id").as("doc_id"), col("phrase"),
        col("score_micro"))
  }
}
