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
  * Crash contract — STRONGER than the [[LexIndex.refresh]] protocol:
  * [[refreshFromCorpus]] folds the change feed's count DELTAS, the
  * new stats, and the generation anchor into ONE merge commit (one
  * CAS), so a crash leaves either the old model or the new one —
  * never a half-applied delta — and a replayed refresh no-ops on the
  * already-advanced anchor. (Count deltas are NOT idempotent, which
  * is exactly why they must ride the anchor's own commit; the
  * doc-keyed delete-then-append trick that makes [[LexIndex]]/
  * [[DedupIndex]] refreshes idempotent has no analog for shared
  * additive counts.)
  *
  * A gram whose count reaches zero stays as a cnt=0 row (a single
  * merge commit cannot both update and delete); the serve path
  * filters cnt > 0, and [[compactModel]] rewrites the zeros away.
  */
object LmIndex {

  private def gramsOf(toks: org.apache.spark.sql.Column, n: Int) =
    call_function("graft_shingles", toks, lit(n))

  private val Components = Seq("uni" -> 1, "bi" -> 2, "tri" -> 3)

  private def statsRow(df: DataFrame, n: Long, v: Long,
                       corpusGen: Long): DataFrame =
    df.sparkSession.range(1).select(
      lit("stats").as("mkey"), lit("stats").as("component"),
      lit(null).cast("string").as("gram"),
      lit(null).cast("long").as("cnt"),
      lit(AnnIndex.jsonOf(Map("n" -> n.toString, "v" -> v.toString)))
        .as("meta"),
      lit(corpusGen).as("corpus_gen"))

  private def gramRows(counts: DataFrame, component: String,
                       cntCol: String): DataFrame =
    counts.select(
      concat(lit(component + ":"), col("gram")).as("mkey"),
      lit(component).as("component"), col("gram"),
      col(cntCol).cast("long").as("cnt"),
      lit(null).cast("string").as("meta"),
      lit(null).cast("long").as("corpus_gen"))

  /** Build the count model over a CORPUS TABLE in the same store at
    * its current generation (readAt — consumed data == recorded
    * anchor exactly). One tokenize pass feeds the three model-scale
    * count exchanges; N/V cost one extra bounded aggregate. Returns
    * the generation of the model's [[TableStore.analyze]] commit, so a
    * pin covers the stats too.
    */
  def buildFromCorpus(store: TableStore, corpusTable: String,
                      modelTable: String, textCol: String): Long = {
    val gen = store.generations(corpusTable).last
    val target = store.readAt(corpusTable, gen)
    val m = Lm.modelFrames(target, textCol)
    val nv = m.nvF.head()
    val (n, v) =
      if (nv.isNullAt(0)) (0L, 0L) else (nv.getLong(0), nv.getLong(1))
    val rows = gramRows(m.uc.select(col("__w").as("gram"), col("__c")),
        "uni", "__c")
      .unionByName(gramRows(
        m.bc.select(col("__mg").as("gram"), col("__cb")), "bi", "__cb"))
      .unionByName(gramRows(
        m.tc.select(col("__mg3").as("gram"), col("__c123")), "tri",
        "__c123"))
      .unionByName(statsRow(target, n, v, gen))
    val clustered = rows.repartitionByRange(col("mkey"))
      .sortWithinPartitions(col("mkey"))
    store.rewrite(modelTable, clustered) // layout-preserving even
    // first-time (see LexIndex.buildFrom)
    store.analyze(modelTable, Seq("mkey", "component"))
  }

  /** (n, v, corpus_gen) from the pinned stats row. */
  private def stats(store: TableStore, modelTable: String)
      : (Long, Long, Long) = {
    val rows = store
      .readWhere(modelTable, col("component") === "stats")
      .select(col("meta"), col("corpus_gen")).collect()
    require(rows.length == 1,
      s"LM model $modelTable must hold exactly ONE stats row, " +
        s"found ${rows.length}")
    val m = AnnIndex.parseJson(rows.head.getString(0))
    (m("n").toLong, m("v").toLong, rows.head.getLong(1))
  }

  /** Catch the model up to the corpus table's current generation from
    * the change feed: churned docs contribute count DELTAS (+1 per
    * gram occurrence inserted, −1 per occurrence deleted — an update
    * is its delete+insert pair), affected grams re-total against
    * their stored counts, N/V adjust from the same delta frame, and
    * EVERYTHING — gram rows, stats, anchor — lands in ONE merge
    * commit (see the crash contract above). Work is churn-scaled on
    * the corpus side and affected-gram-scaled on the model side; the
    * corpus is never re-tokenized wholesale. No-op when current.
    * Returns the corpus generation the model now reflects.
    */
  def refreshFromCorpus(store: TableStore, corpusTable: String,
                        modelTable: String, textCol: String): Long = {
    val (n, v, from) = stats(store, modelTable)
    val to = store.generations(corpusTable).last
    if (to == from) return to
    val changes = store.changesBetween(corpusTable, from, to)
    val sign = when(col("__change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val toks = changes
      .filter(col("__change_type").isin("insert", "delete"))
      .select(TextFunctions.tokens(col(textCol)).as("__t"),
        sign.as("__s"))
    val delta = Components.map { case (comp, ord) =>
      toks.filter(size(col("__t")) >= ord)
        .select(explode(gramsOf(col("__t"), ord)).as("gram"),
          col("__s"))
        .groupBy(col("gram")).agg(sum(col("__s")).as("__d"))
        .filter(col("__d") =!= 0L)
        .select(lit(comp).as("component"), col("gram"), col("__d"))
    }.reduce(_ unionByName _)
    val old = store.read(modelTable)
      .filter(col("component") =!= "stats")
      .select(col("component"), col("gram"), col("cnt").as("__old"))
    // affected grams only: delta-LEFT-join keeps the model read
    // pruned to the churn's key range at execution
    val joined = delta.join(old, Seq("component", "gram"), "left")
      .select(col("component"), col("gram"),
        coalesce(col("__old"), lit(0L)).as("__old"),
        (coalesce(col("__old"), lit(0L)) + col("__d")).as("__new"))
      .persist()
    try {
      // a negative total means the feed and the stored counts
      // disagree — corrupt state; fail loudly before committing
      val checked = joined.withColumn("__new",
        when(col("__new") < 0L, raise_error(concat(
          lit(s"LmIndex.refreshFromCorpus($modelTable): negative " +
            "count for gram '"), col("gram"),
          lit("' — model/feed mismatch")))).otherwise(col("__new")))
      val uniD = joined.filter(col("component") === "uni")
        .agg(coalesce(sum(col("__new") - col("__old")), lit(0L)),
          coalesce(sum(when(col("__old") === 0L && col("__new") > 0L,
            1L).when(col("__old") > 0L && col("__new") === 0L, -1L)
            .otherwise(0L)), lit(0L)))
        .head()
      val (n2, v2) = (n + uniD.getLong(0), v + uniD.getLong(1))
      val src = checked
        .select(concat(col("component"), lit(":"), col("gram"))
            .as("mkey"),
          col("component"), col("gram"),
          col("__new").cast("long").as("cnt"),
          lit(null).cast("string").as("meta"),
          lit(null).cast("long").as("corpus_gen"))
        .unionByName(statsRow(changes, n2, v2, to))
      store.merge(modelTable, src, "mkey",
        TableStore.MergeUpdate(
          Seq("component", "gram", "cnt", "meta", "corpus_gen")))
      store.analyzeIncremental(modelTable, Seq("mkey", "component"))
      to
    } finally { joined.unpersist(); () }
  }

  /** Rewrite the model without its cnt=0 rows (refresh leaves them —
    * a single merge commit cannot both update and delete). Pure
    * storage reclamation: serves filter cnt > 0 either way. Returns
    * the generation of the re-analyze's commit, so a pin covers the
    * stats too.
    */
  def compactModel(store: TableStore, modelTable: String): Long = {
    val kept = store.read(modelTable)
      .filter(col("component") === "stats" || col("cnt") > 0L)
      .repartitionByRange(col("mkey")).sortWithinPartitions(col("mkey"))
    store.rewrite(modelTable, kept)
    store.analyze(modelTable, Seq("mkey", "component"))
  }

  /** [[Lm.LmFrames]] from the persisted components (cnt=0 tombstones
    * filtered; N/V from the stats row as a literal one-row frame).
    */
  private def frames(store: TableStore, modelTable: String)
      : Lm.LmFrames = {
    val (n, v, _) = stats(store, modelTable)
    def comp(name: String, gramAs: String, cntAs: String) = store
      .readWhere(modelTable,
        col("component") === name && col("cnt") > 0L)
      .select(col("gram").as(gramAs), col("cnt").as(cntAs))
    val uc = comp("uni", "__w", "__c")
    Lm.LmFrames(
      uc = uc,
      bc = comp("bi", "__mg", "__cb"),
      tc = comp("tri", "__mg3", "__c123"),
      nvF = uc.sparkSession.range(1)
        .select(lit(n).as("__n"), lit(v).as("__v")))
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
