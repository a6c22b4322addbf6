package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.TableStore

/** Persisted BM25 inverted index — build ONCE, serve query batches for
  * months: the lexical twin of [[AnnIndex]]'s train-once/serve-many
  * contract (no reference counterpart — the reference delegates all
  * retrieval to a vector service; the inverted index + document-length
  * table is the classic public IR design, Robertson/Spärck Jones BM25
  * over Zobel & Moffat-style postings).
  *
  * [[Bm25.topK]] tokenizes the WHOLE corpus per call
  * (two corpus scans): correct for the oracle gates, wrong at 100 TB
  * where the same corpus serves thousands of query batches. This
  * module materializes the term statistics as first-class data in ONE
  * [[graft.sources.TableStore]] table, so the index inherits OCC commits,
  * generations, and time travel, and each query batch touches only
  * the postings its vocabulary asks for.
  *
  * Saved-table schema (`component` discriminates the row kind):
  * {{{
  *   component STRING  -- 'posting' | 'doclen' | 'stats'
  *   term      STRING  -- posting term; NULL elsewhere
  *   doc_id    BIGINT  -- posting/doclen doc; NULL on stats
  *   tf        BIGINT  -- term frequency; NULL off posting
  *   dl        BIGINT  -- document token length (denormalized into
  *                        postings so serving needs NO doc-length join)
  *   n_docs    BIGINT  -- stats row only: corpus document count
  *   sum_dl    BIGINT  -- stats row only: corpus token count
  *   corpus_gen BIGINT -- stats row only: the corpus-table generation
  *                        this index reflects ([[buildFromCorpus]] /
  *                        [[refreshFromCorpus]]); NULL for plain
  *                        DataFrame builds
  * }}}
  *
  * Scale shape (the 100 TB contract):
  *  - build writes postings RANGE-CLUSTERED by (component, term) and
  *    runs `TableStore.analyze`, so a serve-time
  *    `readWhere(component = 'posting' AND term IN vocab)` prunes at
  *    the FILE level (and parquet row-group stats prune inside kept
  *    files) — query I/O is proportional to the vocabulary's postings
  *    footprint, never the corpus;
  *  - N/avgdl are ONE precomputed stats row (no corpus-scale aggregate
  *    on the serve path); df derives from the vocab-filtered postings
  *    (vocab-bounded);
  *  - [[refresh]] consumes a
  *    [[graft.sources.TableStore.changesBetween]] corpus feed through
  *    [[CorpusIndex]]'s doc-keyed refresh: churned doc ids delete by
  *    key, inserted docs tokenize and append — cost scales with the
  *    CHURN (a corpus compaction feeds nothing), and the stats row
  *    recomputes from the narrow doclen component, never the corpus
  *    text.
  *
  * Determinism contract: serving mirrors [[Bm25.topK]]'s expression
  * order exactly — tf/df/dl/N are exact integers persisted losslessly,
  * avgdl is the same single double division, idf the same driver-side
  * quantized ⌊1e6·ln⌋ (same `java.lang.Math.log`), contributions floor
  * to exact longs before the order-independent sum — so a served score
  * is BIT-IDENTICAL to the inline call (spec-pinned; q125 gates the
  * served path against q88's oracle verbatim).
  */
object LexIndex {

  private val Layout = CorpusIndex.Layout(
    "component STRING, term STRING, doc_id BIGINT, tf BIGINT, " +
      "dl BIGINT, n_docs BIGINT, sum_dl BIGINT, corpus_gen BIGINT",
    key = "doc_id", cluster = Seq("component", "term"),
    stats = Seq("component", "term", "doc_id"), bloom = Seq("term"))

  /** Tokenize `corpus` and persist the full index (postings + doclen +
    * stats) into `store.table`, replacing any previous build; returns
    * the generation of the build's `TableStore.analyze`
    * commit (pin it for reproducible serving via [[topKAt]]; the pin
    * covers the stats too). One corpus scan; the posting aggregate is
    * the same (doc, term) exchange [[Bm25.topK]] runs per call, paid
    * once. Postings are range-clustered by (component, term): tight
    * per-file term windows make the analyze() file stats (and parquet
    * row-group stats) selective for term-IN-vocab serving reads.
    * `clusterFiles` pins the file count (default: AQE's).
    */
  def buildAndSave(store: TableStore, table: String, corpus: DataFrame,
                   idCol: String, textCol: String,
                   clusterFiles: Option[Int] = None): Long =
    CorpusIndex.buildFrom(store, corpus, None, table, Layout,
      clusterFiles, tokens(idCol, textCol))(indexRows)

  /** [[buildAndSave]] over a CORPUS TABLE in the same store at its
    * head generation, recording that generation in the stats row —
    * the anchor [[refreshFromCorpus]] resumes from.
    */
  def buildFromCorpus(store: TableStore, corpusTable: String,
                      lexTable: String, idCol: String, textCol: String,
                      clusterFiles: Option[Int] = None): Long =
    CorpusIndex.build(store, corpusTable, lexTable, Layout, clusterFiles,
      tokens(idCol, textCol))(indexRows)

  /** INCREMENTAL index maintenance from a corpus CHANGE FEED
    * ([[graft.sources.TableStore.changesBetween]] output: full rows +
    * `__change_type`) — [[CorpusIndex]]'s doc-keyed refresh: deleted
    * doc ids drop their postings + doclen rows by key, inserted docs
    * tokenize and append (an update re-indexes exactly its one doc via
    * its delete+insert pair), then the stats row recomputes n_docs and
    * sum_dl from the updated doclen component — narrow (doc_id, dl)
    * rows, the corpus text is never re-read. The invariant
    * (spec-gated): after a refresh the index CONTENT equals a fresh
    * [[buildAndSave]] of the live corpus. Not one atomic commit
    * overall: concurrent readers wanting a consistent view pin a
    * generation.
    *
    * Known layout trade-off: postings are TERM-clustered for the read
    * path, so a doc-keyed delete cannot file-target (every term file
    * may hold the doc) — [[graft.sources.TableStore.deleteByKeys]]
    * rewrites via one anti-join pass, the [[AnnIndex.refreshCodes]]
    * contract. Tokenize cost IS churn-scaled; the delete pass is
    * index-table-scaled (postings are a compressed fraction of corpus
    * text). Merge-on-read delete bitmaps would remove that pass and
    * are the store's next step, not this operator's.
    *
    * On an index built via [[buildFromCorpus]], the corpus-generation
    * anchor is PRESERVED (not advanced, never nulled): this overload
    * cannot know what generation the hand-fed churn corresponds to,
    * and a lagging anchor is safe — the next [[refreshFromCorpus]]
    * replays the span since it, which is idempotent.
    */
  def refresh(store: TableStore, table: String, changes: DataFrame,
              idCol: String, textCol: String): Unit =
    refresh(store, table, changes, idCol, textCol, anchor = None)

  private def refresh(store: TableStore, table: String,
                      changes: DataFrame, idCol: String, textCol: String,
                      anchor: Option[Long]): Unit =
    CorpusIndex.refreshDocs(store, table, Layout, changes, idCol, anchor,
      tokens(idCol, textCol), restats = () => {
        val r = store.readWhere(table, col("component") === "doclen")
          .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
        Seq("n_docs" -> lit(r.getLong(0)), "sum_dl" -> lit(r.getLong(1)))
      })(docRows)

  /** Catch the index up to the corpus table's CURRENT generation,
    * resuming from the generation anchor the stats row recorded at
    * [[buildFromCorpus]] / the last refresh — the complete incremental
    * serving loop (ingest → `refreshFromCorpus` → [[topKServed]]) with
    * no full rebuilds and no external bookkeeping. Crash-safe, no-op
    * when current (see [[CorpusIndex]]). Returns the corpus generation
    * the index now reflects.
    */
  def refreshFromCorpus(store: TableStore, corpusTable: String,
                        lexTable: String, idCol: String,
                        textCol: String): Long =
    CorpusIndex.catchUp(store, corpusTable, lexTable, Layout) {
      (ch, _, to) => refresh(store, lexTable, ch, idCol, textCol, Some(to))
    }

  /** Serve BM25 top-k from the LIVE index with FILE-LEVEL pruning:
    * postings read through [[graft.sources.TableStore.readWhere]] under a
    * `term IN vocab` predicate, so the analyze() stats drop every
    * file whose term range misses the query vocabulary. Output
    * matches [[Bm25.topK]] on the indexed corpus bit-for-bit.
    */
  def topKServed(store: TableStore, table: String,
                 queries: Seq[(Long, String)], k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 minQuantMargin: Option[Double] = None): DataFrame = {
    val vocab = vocabOf(queries)
    val postings = store.readWhere(table,
      col("component") === "posting" && col("term").isin(vocab: _*))
    val stats = store.readWhere(table, col("component") === "stats")
    score(postings, stats, queries, vocab, k, k1, b, minQuantMargin)
  }

  /** Serve from a PINNED generation
    * ([[graft.sources.TableStore.readAt]]): the reproducible-serving
    * path — re-runs months later return identical results no matter
    * how many refreshes have committed since.
    * (Generation reads are plain file unions; pruning here is
    * parquet row-group stats under the pushed `term IN vocab` filter
    * rather than the manifest's file stats.)
    */
  def topKAt(store: TableStore, table: String, gen: Long,
             queries: Seq[(Long, String)], k: Int,
             k1: Double = 1.2, b: Double = 0.75,
             minQuantMargin: Option[Double] = None): DataFrame = {
    val ix = store.readAt(table, gen)
    topK(ix, queries, k, k1, b, minQuantMargin)
  }

  /** Serve from any frame of the unified index schema (a
    * [[graft.sources.TableStore.read]] or
    * [[graft.sources.TableStore.readAt]] result). */
  def topK(index: DataFrame, queries: Seq[(Long, String)], k: Int,
           k1: Double = 1.2, b: Double = 0.75,
           minQuantMargin: Option[Double] = None): DataFrame = {
    val vocab = vocabOf(queries)
    val postings = index.filter(
      col("component") === "posting" && col("term").isin(vocab: _*))
    val stats = index.filter(col("component") === "stats")
    score(postings, stats, queries, vocab, k, k1, b, minQuantMargin)
  }

  // ----------------------------------------------------------- build

  /** The token frame a build or refresh shares (persisted by
    * [[CorpusIndex]]), so its components tokenize the input once.
    */
  private def tokens(idCol: String, textCol: String)
      : Option[DataFrame => DataFrame] = Some(corpus =>
    corpus.repartition(graft.Par.n, col(idCol))
      .select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("__toks"),
        TextFunctions.tokenCount(col(textCol)).as("dl")))

  private def postingRowsOf(tf: DataFrame): DataFrame =
    tf.select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("component", lit("posting"))

  private def doclenRowsOf(tf: DataFrame): DataFrame =
    tf.select(lit("doclen").as("component"), col("doc_id"), col("dl"))

  private def docRows(tf: DataFrame): DataFrame =
    postingRowsOf(tf).unionByName(doclenRowsOf(tf),
      allowMissingColumns = true)

  /** Postings + doclen rows, and the stats columns off the doclen
    * component.
    */
  private def indexRows(tf: DataFrame): (DataFrame, DataFrame) =
    (docRows(tf), doclenRowsOf(tf).agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl")))

  // ----------------------------------------------------------- serve

  private def vocabOf(queries: Seq[(Long, String)]): Seq[String] = {
    require(queries.nonEmpty, "at least one query")
    val vocab = queries.flatMap { case (_, text) =>
      TextFunctions.normalizeString(text).split(' ').filter(_.nonEmpty)
    }.distinct.sorted
    require(vocab.nonEmpty,
      "no query term survives normalization - queries must contain " +
        "at least one alphanumeric token")
    vocab
  }

  /** The [[Bm25.topK]] scoring tail over PERSISTED statistics —
    * expression-for-expression the inline form, so quantized scores
    * are bit-identical: df from the vocab-filtered postings (vocab-
    * bounded exchange), N/Σdl from the one stats row, idf driver-side
    * `math.log` with the margin audit, exact-long contributions.
    */
  private def score(postings: DataFrame, stats: DataFrame,
                    queries: Seq[(Long, String)], vocab: Seq[String],
                    k: Int, k1: Double, b: Double,
                    minQuantMargin: Option[Double]): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val spark = postings.sparkSession
    import spark.implicits._

    val qTerms: Seq[(Long, String)] = queries.flatMap {
      case (qid, text) =>
        TextFunctions.normalizeString(text).split(' ')
          .filter(_.nonEmpty).distinct.map(qid -> _)
    }

    val tf = postings
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
      .persist()
    try {
    // ONE driver action for both bounded header reads (the stats row
    // and the vocab-bounded df counts) — they were two separate
    // collect jobs per serve
    val hdr = stats
      .select(lit(null).cast("string").as("term"),
        col("n_docs").cast("long").as("a"),
        col("sum_dl").cast("long").as("b"))
      .unionByName(tf.groupBy(col("term"))
        .agg(count(lit(1)).cast("long").as("a"))
        .select(col("term"), col("a"), lit(-1L).as("b")))
      .as[(Option[String], Long, Long)].collect()
    val (nDocs, sumDl) = CorpusIndex.theStatsRow(
      hdr.collect { case (None, a, b) => (a, b) }.toSeq, "(LexIndex serve)")
    require(nDocs > 0, "empty corpus")
    val dfByTerm: Map[String, Long] =
      hdr.collect { case (Some(t), a, _) => t -> a }.toMap
    val avgdl = sumDl.toDouble / nDocs.toDouble

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

    val idfCol = element_at(
      map(vocab.flatMap(t => Seq(lit(t), lit(idfQ(t)))): _*), col("term"))
    val qTermDf = qTerms.toDF("qid", "term")

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
    val rows = top.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      top.schema)
    // every exit — incl. guard throws (bad index, margin audit) in a
    // long-lived serving process — releases the postings pin
    } finally tf.unpersist(blocking = false)
  }
}
