package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** BM25 keyword retrieval at corpus scale — the lexical complement to
  * the [[Similarity]] ANN family (no reference counterpart: the
  * reference delegates retrieval to Pinecone's vector side entirely;
  * classic Robertson/Spärck Jones BM25 is public literature).
  *
  * Scale shape (the 100 TB contract):
  *  - corpus term rows are filtered to the QUERY VOCABULARY map-side
  *    before anything aggregates — df/tf statistics never touch terms
  *    no query asks for, so the exchanges are bounded by |vocab| and
  *    |matching docs|, not the corpus vocabulary;
  *  - df/N/avgdl are a handful of driver-side longs (the bounded
  *    metadata-collect pattern of `Sampling.temperatureMix`);
  *  - idf weights broadcast as a map literal; scoring is one
  *    (doc, query) exchange of exact longs; top-k is the
  *    WindowGroupLimit shape of [[TopK.perGroup]].
  *
  * Determinism contract (hash-compared oracle): idf is quantized
  * ⌊1e6·ln(x)⌋ with the same driver-side margin audit as
  * [[Importance.hashedWeights]] (ln is the only non-correctly-rounded
  * op; everything after is IEEE +,×,÷ on identical doubles). Per-term
  * contributions floor to exact longs BEFORE summation, so the
  * per-doc score is an order-independent exact integer sum.
  *
  * NOTE: executes the corpus plan twice (stats pass + scoring pass) —
  * persist an expensive upstream, same contract as `temperatureMix`.
  */
object Bm25 {

  /** Top-k docs per query by quantized BM25 score.
    * Output: (qid, doc_id, score_q, rk) where score_q = Σ_terms
    * ⌊idf_q(term) · tfnorm(term, doc)⌋ (exact long; divide by 1e6 for
    * the conventional score). Docs sharing no term with a query are
    * absent (their score is 0).
    */
  def topK(corpus: DataFrame, idCol: String, textCol: String,
           queries: Seq[(Long, String)], k: Int,
           k1: Double = 1.2, b: Double = 0.75,
           minQuantMargin: Option[Double] = None): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(queries.nonEmpty, "at least one query")
    val spark = corpus.sparkSession
    import spark.implicits._

    // query term sets under the corpus tokenization (dedup within query)
    val qTerms: Seq[(Long, String)] = queries.flatMap { case (qid, text) =>
      TextFunctions.normalizeString(text).split(' ').filter(_.nonEmpty)
        .distinct.map(qid -> _)
    }
    val vocab: Seq[String] = qTerms.map(_._2).distinct.sorted
    require(vocab.nonEmpty,
      "no query term survives normalization - queries must contain " +
        "at least one alphanumeric token")

    // repartition before tokenizing: the CPU-heavy narrow stage must
    // not pin to one task on a single small input file (the
    // lshCandidatePairs precedent); collapses into existing splits at
    // scale
    val toks = corpus.repartition(graft.Par.n, col(idCol))
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("__toks"),
        TextFunctions.tokenCount(col(textCol)).as("dl"))

    // per-(doc, vocab-term) tf — the ONE vocabulary-filtered corpus
    // aggregation; df derives from it (vocab-bounded rows), so the
    // corpus is scanned exactly twice: the N/Σdl stats pass + this
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist()

    // ONE driver action for both bounded header reads (corpus stats +
    // vocab-bounded df counts) — formerly two collect jobs; the union
    // job still runs the same two aggregation branches, and its tf
    // branch fills the pin exactly like the old df collect did
    val hdr = toks
      .agg(count(lit(1)).cast("long").as("a"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("b"))
      .select(lit(null).cast("string").as("term"), col("a"), col("b"))
      .unionByName(tf.groupBy(col("term"))
        .agg(count(lit(1)).cast("long").as("a"))
        .select(col("term"), col("a"), lit(-1L).as("b")))
      .as[(Option[String], Long, Long)].collect()
    val Seq((nDocs, sumDl)) = hdr.collect {
      case (None, a, b) => (a, b) }.toSeq
    require(nDocs > 0, "empty corpus")
    val dfByTerm: Map[String, Long] =
      hdr.collect { case (Some(t), a, _) => t -> a }.toMap
    // mirror order: one double division (the oracle recomputes this
    // identically: CAST(sum AS DOUBLE) / CAST(n AS DOUBLE))
    val avgdl = sumDl.toDouble / nDocs.toDouble

    // driver-side quantized idf with the ln margin audit
    val idfRaw: Map[String, Double] = vocab.map { t =>
      val df = dfByTerm.getOrElse(t, 0L)
      t -> 1000000.0 * math.log(
        (nDocs.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))
    }.toMap
    minQuantMargin.foreach { threshold =>
      val m = idfRaw.values.map { y =>
        val frac = y - math.floor(y)
        math.min(frac, 1.0 - frac)
      }.minOption.getOrElse(Double.PositiveInfinity)
      if (m < threshold) throw new IllegalStateException(
        f"BM25 idf quantization margin $m%.3e below $threshold%.3e: " +
          "cross-engine ln drift could flip a floor - re-audit the " +
          "fixture before trusting a hash-compared oracle")
    }
    val idfQ: Map[String, Long] =
      idfRaw.view.mapValues(y => math.floor(y).toLong).toMap

    val idfCol: Column = element_at(
      map(vocab.flatMap(t => Seq(lit(t), lit(idfQ(t)))): _*), col("term"))
    val qTermDf = qTerms.toDF("qid", "term")

    // scoring: exact-long contributions summed per (query, doc); the
    // pinned tf relation (filled by the df collect above) feeds this
    // without a third corpus scan, and releases once scores land
    val contrib = tf.join(broadcast(qTermDf), Seq("term"))
      .withColumn("__tfn",
        (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
      .withColumn("__c", floor(idfCol.cast("double") * col("__tfn")))
    val scores = contrib.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("__c")).as("score_q"))
    val top = TopK.perGroup(scores, Seq(col("qid")),
      Seq(col("score_q").desc, col("doc_id")), k)
      .select(col("qid"), col("doc_id"), col("score_q"), col("rk"))
    // the result is ≤ |queries|·k rows: materialize it so the tf pin
    // can release here instead of leaking into the caller's lifetime
    val rows = top.collect().toSeq
    tf.unpersist(blocking = false)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      top.schema)
  }
}
