package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** Persisted MinHash-LSH BAND INDEX — build once / screen many, the
  * [[AnnIndex]]/[[LexIndex]] train-once contract applied to dedup:
  * at 100 TB the corpus is shingled, minhashed and banded ONCE per
  * epoch into a TableStore table of (doc_id, band) rows, and every
  * ingest batch screens against those persisted bands without ever
  * re-reading corpus text ([[Dedup.lshCandidatePairsAgainst]]'s
  * scaladoc names exactly this table as the steady-state shape).
  * Band parameters (shingleN, k, bands) are pinned in the stats row —
  * a screen can never silently hash into a different signature space —
  * and the stats row records the corpus GENERATION the bands reflect,
  * so [[refreshFromCorpus]] resumes incrementally from the change feed
  * (churn-scaled re-banding; corpus compaction feeds nothing).
  *
  * Crash contract (the [[LexIndex.refresh]] protocol): churn
  * application is IDEMPOTENT (insert ids delete-before-append) and the
  * generation anchor advances in the refresh's LAST commit — a crash
  * anywhere mid-refresh heals by calling refresh again.
  *
  * Layout: ONE table, rows (component, doc_id, band, meta);
  * band rows range-clustered by band and analyze()d with a band bloom
  * so a band-predicated read prunes at the file level; the stats row
  * (component='stats', doc_id NULL) survives every doc-keyed delete.
  */
object DedupIndex {

  /** [[Dedup.bandProjection]] — literally; one shared definition is
    * what makes "the persisted index cannot drift from the inline
    * screen" a compile-time property (long-cast ids, the table
    * schema's key type).
    */
  private def bandFrame(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int, bands: Int): DataFrame =
    Dedup.bandProjection(
      df.select(col(idCol).cast("long").as(idCol), col(textCol)),
      idCol, "doc_id", textCol, shingleN, k, bands)

  private def indexRows(bandRows: DataFrame, shingleN: Int, k: Int,
                        bands: Int, corpusGen: Long): DataFrame = {
    val meta = AnnIndex.jsonOf(Map("shingleN" -> shingleN.toString,
      "k" -> k.toString, "bands" -> bands.toString))
    val stats = bandRows.sparkSession.range(1).select(
      lit("stats").as("component"), lit(null).cast("long").as("doc_id"),
      lit(null).cast("long").as("band"), lit(meta).as("meta"),
      lit(corpusGen).as("corpus_gen"))
    bandRows.select(lit("band").as("component"), col("doc_id"),
        col("band"), lit(null).cast("string").as("meta"),
        lit(null).cast("long").as("corpus_gen"))
      .unionByName(stats)
  }

  /** Build the band index over a CORPUS TABLE in the same store,
    * pinning the corpus generation consumed (readAt — consumed data ==
    * recorded anchor exactly). `indexFiles` > 0 fixes the band-range
    * file count (size files so a screen's pruned read stays I/O-lean;
    * 0 lets AQE pick — small corpora coalesce to one file and every
    * screen reads it). Returns the generation of the index's
    * [[TableStore.analyze]] commit, so a pin covers the stats too.
    */
  def buildFromCorpus(store: TableStore, corpusTable: String,
                      indexTable: String, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 16,
                      bands: Int = 4, indexFiles: Int = 0): Long = {
    val gen = store.generations(corpusTable).last
    val rows = indexRows(
      bandFrame(store.readAt(corpusTable, gen), idCol, textCol,
        shingleN, k, bands), shingleN, k, bands, gen)
    // range-cluster band rows so band-predicated serves prune files;
    // the single stats row rides along in the lowest range
    val ranged =
      if (indexFiles > 0)
        rows.repartitionByRange(indexFiles, col("component"),
          col("band"))
      else rows.repartitionByRange(col("component"), col("band"))
    val clustered = ranged
      .sortWithinPartitions(col("component"), col("band"), col("doc_id"))
    store.rewrite(indexTable, clustered) // layout-preserving even
    // first-time (see LexIndex.buildFrom)
    store.analyze(indexTable, Seq("component", "band", "doc_id"),
      bloomCols = Seq("band"))
  }

  /** (shingleN, k, bands, corpus_gen) from the pinned stats row. */
  private def params(store: TableStore, indexTable: String)
      : (Int, Int, Int, Long) = {
    val rows = store
      .readWhere(indexTable, col("component") === "stats")
      .select(col("meta"), col("corpus_gen")).collect()
    require(rows.length == 1,
      s"dedup index $indexTable must hold exactly ONE stats row, " +
        s"found ${rows.length}")
    val m = AnnIndex.parseJson(rows.head.getString(0))
    (m("shingleN").toInt, m("k").toInt, m("bands").toInt,
      rows.head.getLong(1))
  }

  /** Catch the index up to the corpus table's current generation from
    * the change feed: churned doc ids drop their band rows
    * (doc-keyed delete — the [[LexIndex.refresh]] layout trade-off),
    * inserted docs re-band with the PINNED parameters, and the anchor
    * advances in the final stats commit. Idempotent; no-op when
    * current. Returns the corpus generation the index now reflects.
    */
  def refreshFromCorpus(store: TableStore, corpusTable: String,
                        indexTable: String, idCol: String,
                        textCol: String): Long = {
    val (shingleN, k, bands, from) = params(store, indexTable)
    val to = store.generations(corpusTable).last
    if (to == from) return to
    val changes = store.changesBetween(corpusTable, from, to)
    val del = changes
      .filter(col("__change_type").isin("delete", "insert"))
      .select(col(idCol).cast("long").as("doc_id")).distinct()
    store.deleteByKeys(indexTable, del, Seq("doc_id"))
    val ins = changes.filter(col("__change_type") === "insert")
    store.append(indexTable,
      bandFrame(ins, idCol, textCol, shingleN, k, bands)
        .select(lit("band").as("component"), col("doc_id"), col("band"),
          lit(null).cast("string").as("meta"),
          lit(null).cast("long").as("corpus_gen")))
    store.updateWhere(indexTable, col("component") === "stats",
      Seq("corpus_gen" -> lit(to).cast("long")))
    store.analyzeIncremental(indexTable, Seq("component", "band", "doc_id"),
      bloomCols = Seq("band"))
    to
  }

  /** One-sided candidate screen of a batch against the PERSISTED
    * corpus bands: the batch shingles/minhashes with the index's
    * pinned parameters, joins the stored band rows on the band key,
    * and emits (id_a = corpus doc, id_b = batch doc) — bit-identical
    * to [[Dedup.lshCandidatePairsAgainst]] over the live corpus text
    * (spec-pinned), with the corpus never re-tokenized. Verify
    * survivors with [[Dedup.verifyJaccard]] as usual. ONE exchange on
    * the band key; steady-state ingest batches are small, so AQE
    * broadcasts the batch side.
    *
    * FILE PRUNING — the 100 TB point of the persisted layout: when
    * the batch occupies at most `maxPrunedBands` distinct band keys
    * (collected driver-side — bounded by |batch|·bands), the index
    * read carries `band IN (batch bands)`, and the range clustering +
    * band bloom recorded at build time let [[TableStore.readWhere]]
    * skip every index file holding none of those bands — a small
    * ingest batch touches the files its bands live in, not the
    * index. The IN list never changes results (the band join would
    * drop non-batch bands anyway); a huge batch falls back to the
    * full band read. The batch is banded twice (key collect + join) —
    * recomputation is deterministic and batch-sized, cheaper than a
    * persist pin on the serve path.
    */
  def screen(store: TableStore, indexTable: String, batch: DataFrame,
             idCol: String, textCol: String,
             maxPrunedBands: Int = 4096): DataFrame =
    screenWith(params(store, indexTable), store, indexTable, batch,
      idCol, textCol, maxPrunedBands)

  /** [[screen]] with the stats row already read — [[admit]] passes
    * its one params read through instead of re-collecting the stats
    * row per stage (one driver job + one pruned index open each).
    */
  private def screenWith(p: (Int, Int, Int, Long), store: TableStore,
                         indexTable: String, batch: DataFrame,
                         idCol: String, textCol: String,
                         maxPrunedBands: Int = 4096): DataFrame = {
    val (shingleN, k, bands, _) = p
    val bb = bandFrame(batch, idCol, textCol, shingleN, k, bands)
      .select(col("doc_id").as("id_b"), col("band"))
    val bandKeys = bb.select(col("band")).distinct()
      .limit(maxPrunedBands + 1).collect().map(_.getLong(0))
    val bandPred =
      if (bandKeys.length <= maxPrunedBands && bandKeys.nonEmpty)
        col("component") === "band" &&
          col("band").isin(bandKeys.map(Long.box): _*)
      else col("component") === "band"
    val ix = store.readWhere(indexTable, bandPred)
      .select(col("doc_id").as("id_a"), col("band"))
    ix.join(bb, Seq("band"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** [[screen]] + exact-Jaccard verification, with the verify stage's
    * shingle width taken from the INDEX's pinned parameters (a
    * caller-supplied width could silently verify in a different
    * shingle space than the bands were built in). The corpus side is
    * SEMI-JOINED down to the ids the band screen surfaced before any
    * tokenization, so the verify cost is candidate-bounded. Returns
    * (id_a corpus, id_b batch, …) in [[Dedup.verifyJaccard]]'s schema.
    */
  private def screenVerifiedWith(p: (Int, Int, Int, Long),
                     store: TableStore, indexTable: String,
                     corpusTable: String, batch: DataFrame,
                     idCol: String, textCol: String,
                     threshold: Double): DataFrame = {
    val (shingleN, _, _, _) = p
    val cands = screenWith(p, store, indexTable, batch, idCol, textCol)
    val corpusTexts = store.read(corpusTable)
      .select(col(idCol).cast("long").as(idCol), col(textCol))
      .join(cands.select(col("id_a").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
    val texts = corpusTexts.unionByName(
      batch.select(col(idCol).cast("long").as(idCol), col(textCol)))
    Dedup.verifyJaccard(cands, texts, idCol, textCol, shingleN,
      threshold)
  }

  /** The ADMISSION decision for an ingest batch — the screen turned
    * into a filter: drop every batch doc with a verified near-dup in
    * the standing corpus (the band screen, exact-Jaccard verified at
    * the index's pinned shingle width), and of the verified
    * WITHIN-BATCH dup pairs (banded with the same pinned parameters
    * via [[Dedup.lshCandidatePairs]]) drop every doc that has a
    * SMALLER-id verified dup — the standard greedy MinHash-dedup
    * policy: deterministic, keeps each dup component's min id (it has
    * no smaller dup), and may drop a transitive member whose only dup
    * was itself dropped (by design — admission is conservative;
    * component-exact survivor election is [[Dedup.connectedComponents]]
    * + [[Dedup.electSurvivorsByQuality]] on the batch path). Returns
    * the surviving batch rows UNCHANGED (original schema). Batch ids
    * must be new (id-disjoint from the corpus — the
    * [[Dedup.lshCandidatePairsAgainst]] contract).
    */
  def admit(store: TableStore, indexTable: String, corpusTable: String,
            batch: DataFrame, idCol: String, textCol: String,
            threshold: Double): DataFrame = {
    val p = params(store, indexTable) // ONE stats read for all stages
    val (shingleN, k, bands, _) = p
    val vsCorpus = screenVerifiedWith(p, store, indexTable, corpusTable,
      batch, idCol, textCol, threshold).select(col("id_b").as("__dup"))
    val withinB = Dedup.verifyJaccard(
        Dedup.lshCandidatePairs(
          batch.select(col(idCol).cast("long").as(idCol), col(textCol)),
          idCol, textCol, shingleN, k, bands),
        batch.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol, shingleN, threshold)
      .select(col("id_b").as("__dup")) // id_a < id_b: drop the larger
    batch.join(vsCorpus.unionByName(withinB).distinct(),
      batch(idCol).cast("long") === col("__dup"), "left_anti")
  }

  /** [[screen]] from a PINNED index generation
    * ([[TableStore.readAt]]) — the reproducible-screening path.
    */
  def screenAt(store: TableStore, indexTable: String, gen: Long,
               batch: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val rows = store.readAt(indexTable, gen)
    val stats = rows.filter(col("component") === "stats")
      .select(col("meta")).collect()
    require(stats.length == 1,
      s"dedup index $indexTable@$gen: expected one stats row, " +
        s"got ${stats.length}")
    val m = AnnIndex.parseJson(stats.head.getString(0))
    val bb = bandFrame(batch, idCol, textCol, m("shingleN").toInt,
        m("k").toInt, m("bands").toInt)
      .select(col("doc_id").as("id_b"), col("band"))
    rows.filter(col("component") === "band")
      .select(col("doc_id").as("id_a"), col("band"))
      .join(bb, Seq("band"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }
}
