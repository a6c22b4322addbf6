package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.TableStore

/** Persisted n-gram COUNT MODEL — train once / score many, the
  * [[LexIndex]]/[[AnnIndex]]/[[DedupIndex]] contract applied to the
  * [[Lm]] family: at 100 TB the target corpus is tokenized ONCE per
  * epoch into a TableStore table of exact unigram/bigram/trigram
  * counts, and every scoring run joins those persisted counts without
  * re-reading target text. All three scorers serve from the SAME
  * table — stupid backoff needs uni+bi, the trigram form adds tri,
  * and Kneser–Ney DERIVES its continuation statistics
  * (N1+(w1·), N1+(·w2), B) from the persisted bigram component at
  * serve time (model-scale aggregates, no extra storage). Served
  * scores are BIT-IDENTICAL to inline ones by construction: both
  * paths run [[Lm]]'s shared scoring expressions over
  * [[Lm.LmFrames]]; only the frame SOURCE differs, and equal exact
  * counts make every double divide equal.
  *
  * Layout: ONE table, rows (mkey, component, gram, cnt, meta,
  * corpus_gen) with mkey = "component:gram" ("stats" for the stats
  * row); range-clustered and analyze()d on mkey so a refresh's merge
  * targets only the files holding its key range. The stats row pins
  * N (total target tokens), V (vocab) and the corpus GENERATION the
  * counts reflect.
  *
  * Build, stats row and refresh are [[CorpusIndex]]'s protocol, in
  * its count-delta form: [[refreshFromCorpus]] folds the change feed's
  * count DELTAS, the new stats and the anchor into ONE merge commit,
  * so a crash leaves either the old model or the new one and a
  * replayed refresh no-ops on the advanced anchor. (The doc-keyed
  * delete-then-append that makes [[LexIndex]]/[[DedupIndex]]
  * refreshes idempotent has no analog for shared additive counts.)
  *
  * A gram whose count reaches zero stays as a cnt=0 row (a single
  * merge commit cannot both update and delete); the serve path
  * filters cnt > 0, and [[compactModel]] rewrites the zeros away.
  */
object LmIndex {

  private def gramsOf(toks: org.apache.spark.sql.Column, n: Int) =
    call_function("graft_shingles", toks, lit(n))

  private val Components = Seq("uni" -> 1, "bi" -> 2, "tri" -> 3)

  private val Layout = CorpusIndex.Layout(
    "mkey STRING, component STRING, gram STRING, cnt BIGINT, " +
      "meta STRING, corpus_gen BIGINT",
    key = "mkey", cluster = Seq("mkey"), stats = Seq("mkey", "component"))

  private def gramRows(counts: DataFrame, component: String): DataFrame =
    counts.toDF("gram", "cnt").select(
      concat(lit(component + ":"), col("gram")).as("mkey"),
      lit(component).as("component"), col("gram"), col("cnt"))

  private def nv(n: Long, v: Long) = Map("n" -> n.toString, "v" -> v.toString)

  /** Build the count model over a CORPUS TABLE in the same store at
    * its head generation. One tokenize pass feeds the three
    * model-scale count exchanges; N/V cost one extra bounded
    * aggregate. Returns the generation of the model's
    * `TableStore.analyze` commit, so a pin covers the stats too.
    */
  def buildFromCorpus(store: TableStore, corpusTable: String,
                      modelTable: String, textCol: String): Long =
    CorpusIndex.build(store, corpusTable, modelTable, Layout) { target =>
      val m = Lm.modelFrames(target, textCol)
      val r = m.nvF.head()
      val (n, v) =
        if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
      (gramRows(m.uc, "uni").unionByName(gramRows(m.bc, "bi"))
        .unionByName(gramRows(m.tc, "tri")),
        CorpusIndex.metaRow(target, nv(n, v)))
    }

  /** Catch the model up to the corpus table's current generation from
    * the change feed: churned docs contribute count DELTAS (+1 per
    * gram occurrence inserted, −1 per occurrence deleted — an update
    * is its delete+insert pair), affected grams re-total against
    * their stored counts, N/V adjust from the same delta frame, and
    * everything lands in ONE merge commit. Work is churn-scaled on
    * the corpus side and affected-gram-scaled on the model side; the
    * corpus is never re-tokenized wholesale. No-op when current.
    * Returns the corpus generation the model now reflects.
    */
  def refreshFromCorpus(store: TableStore, corpusTable: String,
                        modelTable: String, textCol: String): Long =
    CorpusIndex.refreshCounts(store, corpusTable, modelTable, Layout,
        "gram", "cnt")(
      deltaOf = { (signed, _) =>
        val toks = signed.select(
          TextFunctions.tokens(col(textCol)).as("__t"), col("__s"))
        Components.map { case (comp, ord) =>
          toks.filter(size(col("__t")) >= ord)
            .select(explode(gramsOf(col("__t"), ord)).as("gram"),
              col("__s"))
            .groupBy(col("gram")).agg(sum(col("__s")).as("__d"))
            .filter(col("__d") =!= 0L)
            .select(lit(comp).as("component"), col("gram"), col("__d"))
        }.reduce(_ unionByName _)
      },
      metaOf = { (m, joined) =>
        val d = joined.filter(col("component") === "uni")
          .agg(coalesce(sum(col("__new") - col("__old")), lit(0L)),
            coalesce(sum(when(col("__old") === 0L && col("__new") > 0L,
              1L).when(col("__old") > 0L && col("__new") === 0L, -1L)
              .otherwise(0L)), lit(0L)))
          .head()
        nv(m("n").toLong + d.getLong(0), m("v").toLong + d.getLong(1))
      })

  /** Rewrite the model without its cnt=0 rows (refresh leaves them —
    * a single merge commit cannot both update and delete). Pure
    * storage reclamation: serves filter cnt > 0 either way. Returns
    * the generation of the re-analyze's commit, so a pin covers the
    * stats too.
    */
  def compactModel(store: TableStore, modelTable: String): Long =
    CorpusIndex.write(store, modelTable, Layout, None, store.read(modelTable)
      .filter(col("component") === "stats" || col("cnt") > 0L))

  /** [[Lm.LmFrames]] from the persisted components (cnt=0 tombstones
    * filtered; N/V from the stats row as a literal one-row frame).
    */
  private def frames(store: TableStore, modelTable: String)
      : Lm.LmFrames = {
    val m = CorpusIndex.pin(store, modelTable)._1
    def comp(name: String, gramAs: String, cntAs: String) = store
      .readWhere(modelTable,
        col("component") === name && col("cnt") > 0L)
      .select(col("gram").as(gramAs), col("cnt").as(cntAs))
    val uc = comp("uni", "__w", "__c")
    Lm.LmFrames(
      uc = uc,
      bc = comp("bi", "__mg", "__cb"),
      tc = comp("tri", "__mg3", "__c123"),
      nvF = uc.sparkSession.range(1).select(
        lit(m("n").toLong).as("__n"), lit(m("v").toLong).as("__v")))
  }
  /** [[Lm.stupidBackoffScores]] SERVED from the persisted model —
    * target text never re-tokenized; bit-identical to inline.
    */
  def stupidBackoffScoresServed(store: TableStore, modelTable: String,
                                corpus: DataFrame, idCol: String,
                                textCol: String, alpha: Double = 0.4,
                                minQuantMargin: Option[Double] = None)
      : DataFrame =
    Lm.stupidBackoffScoresFrom(corpus, frames(store, modelTable),
      idCol, textCol, alpha, minQuantMargin)

  /** [[Lm.stupidBackoffTrigramScores]] SERVED from the persisted
    * model.
    */
  def stupidBackoffTrigramScoresServed(
      store: TableStore, modelTable: String, corpus: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4,
      minQuantMargin: Option[Double] = None): DataFrame =
    Lm.stupidBackoffTrigramScoresFrom(corpus, frames(store, modelTable),
      idCol, textCol, alpha, minQuantMargin)

  /** [[Lm.kneserNeyScores]] SERVED from the persisted model (the KN
    * statistics derive from the persisted bigram component).
    */
  def kneserNeyScoresServed(store: TableStore, modelTable: String,
                            corpus: DataFrame, idCol: String,
                            textCol: String,
                            minQuantMargin: Option[Double] = None)
      : DataFrame =
    Lm.kneserNeyScoresFrom(corpus, frames(store, modelTable), idCol,
      textCol, minQuantMargin)
}
