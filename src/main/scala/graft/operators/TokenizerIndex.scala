package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
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
  *    [[CorpusIndex]]'s count-delta refresh
  *    ([[refreshUnigramFromCorpus]] is churn-scaled; deltas + stats +
  *    anchor ride ONE merge CAS). The model (top-V ∪ chars,
  *    quantized-ln costs) derives from the persisted frequencies
  *    through the SAME selection and cost chain as inline training
  *    ([[Unigram.modelFromFrequencies]]), so served scores are
  *    bit-identical by construction. The build-time vocabSize is
  *    PINNED in the stats row — a serve can never silently derive a
  *    different vocabulary.
  *
  *  - '''BPE''' ([[Bpe]]): the merge list is a SEQUENTIAL argmax
  *    chain — one churned word can flip merge 1 and cascade, so there
  *    is no delta refresh; [[buildBpeFromCorpus]] retrains and
  *    rewrites (documented, loud), and what persistence buys is the
  *    serving story: generation-pinned merge lists
  *    ([[bpeMergesAt]]) so every downstream segmentation is
  *    reproducible against the exact tokenizer it shipped with.
  *
  * Both tables are built by [[CorpusIndex]]'s build, with a stats row
  * anchoring the corpus generation consumed.
  */
object TokenizerIndex {

  // ------------------------------------------------------- unigram

  private val UniLayout = CorpusIndex.Layout(
    "mkey STRING, component STRING, piece STRING, freq BIGINT, " +
      "meta STRING, corpus_gen BIGINT",
    key = "mkey", cluster = Seq("mkey"), stats = Seq("mkey", "component"))

  /** Build the candidate-frequency table over a CORPUS TABLE at its
    * head generation, pinning `vocabSize` and the generation in the
    * stats row. Returns the generation of the artifact's
    * `TableStore.analyze` commit, so a pin covers the stats too.
    */
  def buildUnigramFromCorpus(store: TableStore, corpusTable: String,
                             table: String, textCol: String,
                             vocabSize: Int): Long = {
    require(vocabSize >= 1, s"vocabSize >= 1, got $vocabSize")
    CorpusIndex.build(store, corpusTable, table, UniLayout) { corpus =>
      (Unigram.pieceFrequencies(corpus, textCol)
        .select(concat(lit("pfreq:"), col("piece")).as("mkey"),
          lit("pfreq").as("component"), col("piece"), col("freq")),
        CorpusIndex.metaRow(corpus, Map("vocabSize" -> vocabSize.toString)))
    }
  }

  /** Catch the frequency table up to the corpus head from the change
    * feed — [[CorpusIndex]]'s count-delta refresh, as
    * [[LmIndex.refreshFromCorpus]]: word count deltas (±1 per
    * occurrence) feed [[Unigram.pieceFreqFromWords]] (piece frequency
    * is additive), affected pieces re-total against their stored rows,
    * and deltas + anchor land in ONE merge commit. Pieces reaching zero
    * stay as freq=0 tombstones (filtered at model derivation); no-op
    * when current.
    */
  def refreshUnigramFromCorpus(store: TableStore, corpusTable: String,
                               table: String, textCol: String): Long =
    CorpusIndex.refreshCounts(store, corpusTable, table, UniLayout,
        "piece", "freq")(
      deltaOf = { (signed, _) =>
        val words = signed
          .select(explode(TextFunctions.tokens(col(textCol))).as("w"),
            col("__s"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(sum(col("__s")).as("cnt"))
          .filter(col("cnt") =!= 0L)
        Unigram.pieceFreqFromWords(words).filter(col("freq") =!= 0L)
          .select(lit("pfreq").as("component"), col("piece"),
            col("freq").as("__d"))
      },
      metaOf = (m, _) => m)

  /** The unigram model derived from the PERSISTED frequencies with
    * the pinned vocabSize — bit-identical to retraining inline on the
    * corpus the table reflects ([[Unigram.modelFromFrequencies]] is
    * the shared derivation).
    */
  def unigramModel(store: TableStore, table: String,
                   minQuantMargin: Option[Double] = None)
      : Unigram.Model =
    modelOf(CorpusIndex.pin(store, table)._1,
      store.readWhere(table, _), minQuantMargin)

  /** [[unigramModel]] from a PINNED artifact generation
    * ([[graft.sources.TableStore.readAt]]) — the reproducible-tokenizer
    * path.
    */
  def unigramModelAt(store: TableStore, table: String, gen: Long,
                     minQuantMargin: Option[Double] = None)
      : Unigram.Model =
    modelOf(CorpusIndex.pin(store, table, Some(gen))._1,
      store.readAt(table, gen).filter(_), minQuantMargin)

  private def modelOf(m: Map[String, String],
                      rows: Column => DataFrame,
                      minQuantMargin: Option[Double]): Unigram.Model =
    Unigram.modelFromFrequencies(
      rows(col("component") === "pfreq" && col("freq") > 0L)
        .select(col("piece"), col("freq")),
      m("vocabSize").toInt, minQuantMargin)

  /** [[Unigram.scoreDocs]] under the served model. */
  def unigramScoreServed(store: TableStore, table: String,
                         corpus: DataFrame, idCol: String,
                         textCol: String,
                         minQuantMargin: Option[Double] = None)
      : DataFrame =
    Unigram.scoreDocs(corpus, idCol, textCol,
      unigramModel(store, table, minQuantMargin))

  // ----------------------------------------------------------- bpe

  private val BpeLayout = CorpusIndex.Layout(
    "component STRING, step BIGINT, `left` STRING, `right` STRING, " +
      "pair_count BIGINT, meta STRING, corpus_gen BIGINT",
    key = "step", cluster = Seq("component"),
    stats = Seq("component", "step"))

  /** Train `numMerges` BPE merges on the corpus table's current
    * generation and persist the ordered merge list (+ stats row
    * pinning numMerges and the corpus generation). Sequential argmax
    * has no delta form — re-running retrains and REWRITES; old
    * generations stay readable via [[bpeMergesAt]] for
    * reproducibility. Returns the generation of the artifact's
    * `TableStore.analyze` commit.
    */
  def buildBpeFromCorpus(store: TableStore, corpusTable: String,
                         table: String, textCol: String,
                         numMerges: Int): Long =
    CorpusIndex.build(store, corpusTable, table, BpeLayout) { corpus =>
      (Bpe.trainMerges(corpus, textCol, numMerges)
        .withColumn("component", lit("merge")),
        CorpusIndex.metaRow(corpus, Map("numMerges" -> numMerges.toString)))
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
