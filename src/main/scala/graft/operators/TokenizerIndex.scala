package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.TableStore

/** Persisted TOKENIZER artifacts — train once / tokenize many, the
  * [[LexIndex]]/[[LmIndex]] contract applied to the subword family:
  * at 100 TB a tokenizer is trained once per corpus epoch and then
  * applied to every downstream job; nothing should re-scan corpus
  * text to recover it. Two artifact kinds, two honest refresh
  * stories:
  *
  *  - '''Unigram''' (Kudo 2018, [[Unigram]]): what is persisted is
  *    the CANDIDATE PIECE FREQUENCY table — piece frequency is
  *    additive over words, so churn folds in as count deltas under
  *    [[LmIndex]]'s single-commit protocol ([[refreshUnigramFromCorpus]]
  *    is churn-scaled; deltas + stats + anchor ride ONE merge CAS).
  *    The model (top-V ∪ chars, quantized-ln costs) derives from the
  *    persisted frequencies through the SAME selection and cost chain
  *    as inline training ([[Unigram.modelFromFrequencies]]), so served
  *    scores are bit-identical by construction. The build-time
  *    vocabSize is PINNED in the stats row — a serve can never
  *    silently derive a different vocabulary.
  *
  *  - '''BPE''' ([[Bpe]]): the merge list is a SEQUENTIAL argmax
  *    chain — one churned word can flip merge 1 and cascade, so there
  *    is no delta refresh; [[buildBpeFromCorpus]] retrains and
  *    rewrites (documented, loud), and what persistence buys is the
  *    serving story: generation-pinned merge lists
  *    ([[bpeMergesAt]]) so every downstream segmentation is
  *    reproducible against the exact tokenizer it shipped with.
  *
  * Both tables carry a stats row anchoring the corpus generation
  * consumed (readAt — consumed data == recorded anchor exactly).
  */
object TokenizerIndex {

  // ------------------------------------------------------- unigram

  private def uniStatsRow(df: DataFrame, vocabSize: Int,
                          corpusGen: Long): DataFrame =
    df.sparkSession.range(1).select(
      lit("stats").as("mkey"), lit("stats").as("component"),
      lit(null).cast("string").as("piece"),
      lit(null).cast("long").as("freq"),
      lit(AnnIndex.jsonOf(Map("vocabSize" -> vocabSize.toString)))
        .as("meta"),
      lit(corpusGen).as("corpus_gen"))

  private def uniRows(freqs: DataFrame): DataFrame =
    freqs.select(concat(lit("pfreq:"), col("piece")).as("mkey"),
      lit("pfreq").as("component"), col("piece"),
      col("freq").cast("long").as("freq"),
      lit(null).cast("string").as("meta"),
      lit(null).cast("long").as("corpus_gen"))

  /** Build the candidate-frequency table over a CORPUS TABLE at its
    * current generation, pinning `vocabSize` and the generation in
    * the stats row. Returns the generation of the artifact's
    * [[TableStore.analyze]] commit, so a pin covers the stats too.
    */
  def buildUnigramFromCorpus(store: TableStore, corpusTable: String,
                             table: String, textCol: String,
                             vocabSize: Int): Long = {
    require(vocabSize >= 1, s"vocabSize >= 1, got $vocabSize")
    val gen = store.generations(corpusTable).last
    val corpus = store.readAt(corpusTable, gen)
    val rows = uniRows(Unigram.pieceFrequencies(corpus, textCol))
      .unionByName(uniStatsRow(corpus, vocabSize, gen))
    val clustered = rows.repartitionByRange(col("mkey"))
      .sortWithinPartitions(col("mkey"))
    store.rewrite(table, clustered) // layout-preserving even
    // first-time (see LexIndex.buildFrom)
    store.analyze(table, Seq("mkey", "component"))
  }

  /** (vocabSize, corpus_gen) from the pinned stats row. */
  private def uniStats(store: TableStore, table: String): (Int, Long) = {
    val rows = store.readWhere(table, col("component") === "stats")
      .select(col("meta"), col("corpus_gen")).collect()
    require(rows.length == 1,
      s"tokenizer table $table must hold exactly ONE stats row, " +
        s"found ${rows.length}")
    (AnnIndex.parseJson(rows.head.getString(0))("vocabSize").toInt,
      rows.head.getLong(1))
  }

  /** Catch the frequency table up to the corpus head from the change
    * feed — [[LmIndex.refreshFromCorpus]]'s protocol verbatim: word
    * count deltas (±1 per occurrence) feed
    * [[Unigram.pieceFreqFromWords]] (piece frequency is additive),
    * affected pieces re-total against their stored rows, and deltas +
    * anchor land in ONE merge commit (crash leaves old or new, replay
    * no-ops on the anchor). Pieces reaching zero stay as freq=0
    * tombstones (filtered at model derivation); no-op when current.
    */
  def refreshUnigramFromCorpus(store: TableStore, corpusTable: String,
                               table: String, textCol: String): Long = {
    val (vocabSize, from) = uniStats(store, table)
    val to = store.generations(corpusTable).last
    if (to == from) return to
    val changes = store.changesBetween(corpusTable, from, to)
    val sign = when(col("__change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val words = changes
      .filter(col("__change_type").isin("insert", "delete"))
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"),
        sign.as("__s"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(sum(col("__s")).as("cnt"))
      .filter(col("cnt") =!= 0L)
    val delta = Unigram.pieceFreqFromWords(words)
      .filter(col("freq") =!= 0L)
    val old = store.read(table).filter(col("component") === "pfreq")
      .select(col("piece"), col("freq").as("__old"))
    val joined = delta
      .select(col("piece"), col("freq").as("__d"))
      .join(old, Seq("piece"), "left")
      .select(col("piece"),
        (coalesce(col("__old"), lit(0L)) + col("__d")).as("__new"))
    val checked = joined.withColumn("__new",
      when(col("__new") < 0L, raise_error(concat(
        lit(s"TokenizerIndex.refreshUnigramFromCorpus($table): " +
          "negative frequency for piece '"), col("piece"),
        lit("' — artifact/feed mismatch")))).otherwise(col("__new")))
    val src = uniRows(checked.select(col("piece"),
        col("__new").as("freq")))
      .unionByName(uniStatsRow(changes, vocabSize, to))
    store.merge(table, src, "mkey",
      TableStore.MergeUpdate(
        Seq("component", "piece", "freq", "meta", "corpus_gen")))
    store.analyzeIncremental(table, Seq("mkey", "component"))
    to
  }

  /** The unigram model derived from the PERSISTED frequencies with
    * the pinned vocabSize — bit-identical to retraining inline on the
    * corpus the table reflects ([[Unigram.modelFromFrequencies]] is
    * the shared derivation).
    */
  def unigramModel(store: TableStore, table: String,
                   minQuantMargin: Option[Double] = None)
      : Unigram.Model = {
    val (vocabSize, _) = uniStats(store, table)
    Unigram.modelFromFrequencies(
      store.readWhere(table,
          col("component") === "pfreq" && col("freq") > 0L)
        .select(col("piece"), col("freq")),
      vocabSize, minQuantMargin)
  }

  /** [[unigramModel]] from a PINNED artifact generation
    * ([[TableStore.readAt]]) — the reproducible-tokenizer path.
    */
  def unigramModelAt(store: TableStore, table: String, gen: Long,
                     minQuantMargin: Option[Double] = None)
      : Unigram.Model = {
    val rows = store.readAt(table, gen)
    val stats = rows.filter(col("component") === "stats")
      .select(col("meta")).collect()
    require(stats.length == 1,
      s"tokenizer table $table@$gen: expected one stats row, got " +
        s"${stats.length}")
    val vocabSize =
      AnnIndex.parseJson(stats.head.getString(0))("vocabSize").toInt
    Unigram.modelFromFrequencies(
      rows.filter(col("component") === "pfreq" && col("freq") > 0L)
        .select(col("piece"), col("freq")),
      vocabSize, minQuantMargin)
  }

  /** [[Unigram.scoreDocs]] under the served model. */
  def unigramScoreServed(store: TableStore, table: String,
                         corpus: DataFrame, idCol: String,
                         textCol: String,
                         minQuantMargin: Option[Double] = None)
      : DataFrame =
    Unigram.scoreDocs(corpus, idCol, textCol,
      unigramModel(store, table, minQuantMargin))

  // ----------------------------------------------------------- bpe

  /** Train `numMerges` BPE merges on the corpus table's current
    * generation and persist the ordered merge list (+ stats row
    * pinning numMerges and the corpus generation). Sequential argmax
    * has no delta form — re-running retrains and REWRITES; old
    * generations stay readable via [[bpeMergesAt]] for
    * reproducibility. Returns the committed artifact generation.
    */
  def buildBpeFromCorpus(store: TableStore, corpusTable: String,
                         table: String, textCol: String,
                         numMerges: Int): Long = {
    val gen = store.generations(corpusTable).last
    val corpus = store.readAt(corpusTable, gen)
    val merges = Bpe.trainMerges(corpus, textCol, numMerges)
      .select(col("step").cast("long").as("step"), col("left"),
        col("right"), col("pair_count").cast("long").as("pair_count"))
    val rows = merges.select(lit("merge").as("component"), col("step"),
        col("left"), col("right"), col("pair_count"),
        lit(null).cast("string").as("meta"),
        lit(null).cast("long").as("corpus_gen"))
      .unionByName(corpus.sparkSession.range(1).select(
        lit("stats").as("component"), lit(null).cast("long").as("step"),
        lit(null).cast("string").as("left"),
        lit(null).cast("string").as("right"),
        lit(null).cast("long").as("pair_count"),
        lit(AnnIndex.jsonOf(Map("numMerges" -> numMerges.toString)))
          .as("meta"),
        lit(gen).as("corpus_gen")))
    val committed =
      if (store.exists(table)) store.rewrite(table, rows)
      else store.append(table, rows)
    committed
  }

  /** The persisted merge list in training order. */
  def bpeMerges(store: TableStore, table: String)
      : Seq[(String, String)] =
    mergeList(store.read(table))

  /** [[bpeMerges]] from a PINNED artifact generation. */
  def bpeMergesAt(store: TableStore, table: String, gen: Long)
      : Seq[(String, String)] =
    mergeList(store.readAt(table, gen))

  private def mergeList(rows: DataFrame): Seq[(String, String)] =
    rows.filter(col("component") === "merge")
      .orderBy(col("step"))
      .select(col("left"), col("right")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** [[Bpe.segment]] under the persisted merge list — the corpus
    * never pays the training loop again.
    */
  def bpeSegmentServed(store: TableStore, table: String, df: DataFrame,
                       textCol: String): DataFrame =
    Bpe.segment(df, textCol, bpeMerges(store, table))
}
