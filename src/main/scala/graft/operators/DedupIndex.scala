package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** Persisted MinHash-LSH BAND INDEX — build once / screen many, the
  * [[AnnIndex]]/[[LexIndex]] train-once contract applied to dedup:
  * at 100 TB the corpus is shingled, minhashed and banded ONCE per
  * epoch into a TableStore table of (doc_id, band) rows, and every
  * ingest batch screens against those persisted bands without ever
  * re-reading corpus text ([[Dedup.lshCandidatePairsAgainst]]'s
  * scaladoc names exactly this table as the steady-state shape).
  *
  * Build, stats row and refresh are [[CorpusIndex]]'s protocol: band
  * parameters (shingleN, k, bands) are pinned in the stats row — a
  * screen can never silently hash into a different signature space —
  * next to the corpus GENERATION the bands reflect, and
  * [[refreshFromCorpus]] is the doc-keyed refresh (churn-scaled
  * re-banding; corpus compaction feeds nothing; a crash anywhere heals
  * by calling refresh again).
  *
  * Layout: ONE table, rows (component, doc_id, band, meta,
  * corpus_gen); band rows range-clustered by band and analyze()d with
  * a band bloom so a band-predicated read prunes at the file level;
  * the stats row (doc_id NULL) survives every doc-keyed delete.
  */
object DedupIndex {

  private val Layout = CorpusIndex.Layout(
    "component STRING, doc_id BIGINT, band BIGINT, meta STRING, " +
      "corpus_gen BIGINT",
    key = "doc_id", cluster = Seq("component", "band"),
    stats = Seq("component", "band", "doc_id"), bloom = Seq("band"))

  /** (shingleN, k, bands) from the stats row's meta. */
  private def params(m: Map[String, String]): (Int, Int, Int) =
    (m("shingleN").toInt, m("k").toInt, m("bands").toInt)

  /** (doc_id, band) rows under the meta's band parameters:
    * [[Dedup.bandProjection]] — literally; one shared definition is
    * what makes "the persisted index cannot drift from the inline
    * screen" a compile-time property (long-cast ids, the table
    * schema's key type).
    */
  private def bands(df: DataFrame, idCol: String, textCol: String,
                    m: Map[String, String]): DataFrame = {
    val (shingleN, k, b) = params(m)
    Dedup.bandProjection(
      df.select(col(idCol).cast("long").as(idCol), col(textCol)),
      idCol, "doc_id", textCol, shingleN, k, b)
  }

  private def bandRows(df: DataFrame, idCol: String, textCol: String,
                       m: Map[String, String]): DataFrame =
    bands(df, idCol, textCol, m).withColumn("component", lit("band"))

  /** Build the band index over a CORPUS TABLE in the same store at its
    * head generation. `indexFiles` > 0 fixes the band-range file count
    * (size files so a screen's pruned read stays I/O-lean; 0 lets AQE
    * pick — small corpora coalesce to one file and every screen reads
    * it). Returns the generation of the index's `TableStore.analyze`
    * commit, so a pin covers the stats too.
    */
  def buildFromCorpus(store: TableStore, corpusTable: String,
                      indexTable: String, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 16,
                      bands: Int = 4, indexFiles: Int = 0): Long = {
    val m = Map("shingleN" -> shingleN.toString, "k" -> k.toString,
      "bands" -> bands.toString)
    CorpusIndex.build(store, corpusTable, indexTable, Layout,
      Some(indexFiles).filter(_ > 0)) { corpus =>
      (bandRows(corpus, idCol, textCol, m), CorpusIndex.metaRow(corpus, m))
    }
  }

  /** Catch the index up to the corpus table's current generation from
    * the change feed: churned doc ids drop their band rows (a doc-keyed
    * delete — the [[LexIndex.refresh]] layout trade-off), inserted docs
    * re-band with the PINNED parameters. Idempotent; no-op when
    * current. Returns the corpus generation the index now reflects.
    */
  def refreshFromCorpus(store: TableStore, corpusTable: String,
                        indexTable: String, idCol: String,
                        textCol: String): Long =
    CorpusIndex.catchUp(store, corpusTable, indexTable, Layout) {
      (ch, m, to) => CorpusIndex.refreshDocs(store, indexTable, Layout,
        ch, idCol, Some(to))(bandRows(_, idCol, textCol, m))
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
    * band bloom recorded at build time let
    * [[graft.sources.TableStore.readWhere]] skip every index file
    * holding none of those bands — a small ingest batch touches the
    * files its bands live in, not the index. The IN list never changes
    * results (the band join would drop non-batch bands anyway); a huge
    * batch falls back to the full band read. The batch is banded twice
    * (key collect + join) — recomputation is deterministic and
    * batch-sized, cheaper than a persist pin on the serve path.
    */
  def screen(store: TableStore, indexTable: String, batch: DataFrame,
             idCol: String, textCol: String,
             maxPrunedBands: Int = 4096): DataFrame =
    screenOn(CorpusIndex.pin(store, indexTable)._1,
      store.readWhere(indexTable, _), batch, idCol, textCol,
      maxPrunedBands)

  /** [[screen]] against the index rows `index(pred)` yields under the
    * meta `m` — the live pruned read or a pinned generation's.
    */
  private def screenOn(m: Map[String, String],
                       index: Column => DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       maxPrunedBands: Int = 4096): DataFrame = {
    val bb = bands(batch, idCol, textCol, m)
      .select(col("doc_id").as("id_b"), col("band"))
    val bandKeys = bb.select(col("band")).distinct()
      .limit(maxPrunedBands + 1).collect().map(_.getLong(0))
    val bandPred =
      if (bandKeys.length <= maxPrunedBands && bandKeys.nonEmpty)
        col("component") === "band" &&
          col("band").isin(bandKeys.map(Long.box): _*)
      else col("component") === "band"
    val ix = index(bandPred).select(col("doc_id").as("id_a"), col("band"))
    ix.join(bb, Seq("band"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** The ADMISSION decision for an ingest batch — the screen turned
    * into a filter: drop every batch doc with a verified near-dup in
    * the standing corpus (the band screen, exact-Jaccard verified at
    * the index's pinned shingle width — a caller-supplied width could
    * silently verify in a different shingle space than the bands were
    * built in), and of the verified WITHIN-BATCH dup pairs (banded
    * with the same pinned parameters via [[Dedup.lshCandidatePairs]])
    * drop every doc that has a SMALLER-id verified dup — the standard
    * greedy MinHash-dedup policy: deterministic, keeps each dup
    * component's min id (it has no smaller dup), and may drop a
    * transitive member whose only dup was itself dropped (by design —
    * admission is conservative; component-exact survivor election is
    * [[Dedup.connectedComponents]] + [[Dedup.electSurvivorsByQuality]]
    * on the batch path). The corpus side is SEMI-JOINED down to the
    * ids the band screen surfaced before any tokenization, so the
    * verify cost is candidate-bounded. Returns the surviving batch
    * rows UNCHANGED (original schema). Batch ids must be new
    * (id-disjoint from the corpus — the
    * [[Dedup.lshCandidatePairsAgainst]] contract).
    */
  def admit(store: TableStore, indexTable: String, corpusTable: String,
            batch: DataFrame, idCol: String, textCol: String,
            threshold: Double): DataFrame = {
    val m = CorpusIndex.pin(store, indexTable)._1 // ONE stats read
    val (shingleN, k, b) = params(m)
    val ids = batch.select(col(idCol).cast("long").as(idCol), col(textCol))
    val cands = screenOn(m, store.readWhere(indexTable, _), batch, idCol,
      textCol)
    val corpusTexts = store.read(corpusTable)
      .select(col(idCol).cast("long").as(idCol), col(textCol))
      .join(cands.select(col("id_a").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
    val vsCorpus = Dedup.verifyJaccard(cands,
        corpusTexts.unionByName(ids), idCol, textCol, shingleN, threshold)
      .select(col("id_b").as("__dup"))
    val withinB = Dedup.verifyJaccard(
        Dedup.lshCandidatePairs(ids, idCol, textCol, shingleN, k, b),
        ids, idCol, textCol, shingleN, threshold)
      .select(col("id_b").as("__dup")) // id_a < id_b: drop the larger
    batch.join(vsCorpus.unionByName(withinB).distinct(),
      batch(idCol).cast("long") === col("__dup"), "left_anti")
  }

  /** [[screen]] from a PINNED index generation
    * ([[graft.sources.TableStore.readAt]]) — the reproducible-screening
    * path.
    */
  def screenAt(store: TableStore, indexTable: String, gen: Long,
               batch: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    screenOn(CorpusIndex.pin(store, indexTable, Some(gen))._1,
      store.readAt(indexTable, gen).filter(_), batch, idCol, textCol)
}
