package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** Persisted WINNOWING FINGERPRINT INDEX — the substring-level
  * companion to [[DedupIndex]] (which answers "does the corpus
  * RESEMBLE this document"; this answers "does the corpus already
  * CONTAIN these passages"): the corpus is fingerprinted ONCE with
  * [[Dedup.winnowFingerprints]] (Schleimer et al. 2003 — any shared
  * run of ≥ w+k−1 tokens guarantees a shared fingerprint) into a
  * TableStore table of (doc_id, fp) rows, and every ingest batch
  * screens its passages against the standing corpus without re-reading
  * corpus text — the license-compliance / memorization / quotation
  * screen an ingest pipeline runs on every batch.
  *
  * Build, stats row and refresh are [[CorpusIndex]]'s protocol:
  * parameters (k, w, salt) pinned in the stats row so a screen can
  * never fingerprint into a different hash space, next to the corpus
  * GENERATION the fingerprints reflect; [[refreshFromCorpus]] is the
  * doc-keyed refresh, so a crash anywhere heals by calling refresh
  * again.
  *
  * Layout: ONE table, rows (component, doc_id, fp, meta, corpus_gen);
  * fp rows range-clustered by fp and analyze()d with an fp bloom, so a
  * screen's `fp IN (batch fingerprints)` read prunes at the file
  * level — a small batch touches the files its fingerprints live in,
  * not the index (fingerprint density is ~2/(w+1) of corpus shingles,
  * so the index is a fraction of corpus token volume to begin with).
  */
object WinnowIndex {

  private val Layout = CorpusIndex.Layout(
    "component STRING, doc_id BIGINT, fp BIGINT, meta STRING, " +
      "corpus_gen BIGINT",
    key = "doc_id", cluster = Seq("component", "fp"),
    stats = Seq("component", "fp", "doc_id"), bloom = Seq("fp"))

  /** (doc_id, fp) rows under the meta's (k, w, salt):
    * [[Dedup.winnowFingerprints]] — literally; sharing the definition
    * makes "the persisted index cannot drift from the inline
    * fingerprinting" a compile-time property.
    */
  private def fps(df: DataFrame, idCol: String, textCol: String,
                  m: Map[String, String]): DataFrame =
    Dedup.winnowFingerprints(
        df.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol, m("k").toInt, m("w").toInt, m("salt"))
      .select(col(idCol).cast("long").as("doc_id"), col("fp"))
      .distinct()

  private def fpRows(df: DataFrame, idCol: String, textCol: String,
                     m: Map[String, String]): DataFrame =
    fps(df, idCol, textCol, m).withColumn("component", lit("fp"))

  /** Build the fingerprint index over a CORPUS TABLE in the same
    * store at its head generation. `indexFiles` > 0 fixes the fp-range
    * file count (0 lets AQE pick). Returns the generation of the
    * index's `TableStore.analyze` commit, so a pin covers the stats
    * too.
    */
  def buildFromCorpus(store: TableStore, corpusTable: String,
                      indexTable: String, idCol: String, textCol: String,
                      k: Int = 4, w: Int = 5, salt: String = "winnow",
                      indexFiles: Int = 0): Long = {
    val m = Map("k" -> k.toString, "w" -> w.toString, "salt" -> salt)
    CorpusIndex.build(store, corpusTable, indexTable, Layout,
      Some(indexFiles).filter(_ > 0)) { corpus =>
      (fpRows(corpus, idCol, textCol, m), CorpusIndex.metaRow(corpus, m))
    }
  }

  /** Catch the index up to the corpus table's current generation from
    * the change feed — the [[DedupIndex.refreshFromCorpus]] refresh
    * with fingerprints in place of bands. Idempotent; no-op when
    * current. Returns the corpus generation the index now reflects.
    */
  def refreshFromCorpus(store: TableStore, corpusTable: String,
                        indexTable: String, idCol: String,
                        textCol: String): Long =
    CorpusIndex.catchUp(store, corpusTable, indexTable, Layout) {
      (ch, m, to) => CorpusIndex.refreshDocs(store, indexTable, Layout,
        ch, idCol, Some(to))(fpRows(_, idCol, textCol, m))
    }

  /** Passage screen of a batch against the PERSISTED corpus
    * fingerprints: the batch winnows with the index's pinned
    * parameters, joins stored (doc_id, fp) rows on fp, and emits
    * (id_a = corpus doc, id_b = batch doc, n_shared = count of shared
    * DISTINCT fingerprints) at `n_shared >= minShared` — a batch doc
    * quoting ≥ w+k−1 consecutive corpus tokens is guaranteed to
    * surface (with minShared = 1; higher thresholds demand
    * proportionally longer or repeated overlap). Corpus fingerprints
    * held by more than `maxDf` corpus documents are dropped before
    * pairing (counted over the READ rows — boilerplate, the
    * [[Dedup.winnowPairs]] cap, bounding per-fp fan-out to
    * maxDf·|batch docs on that fp|).
    *
    * FILE PRUNING (the 100 TB serve path): when the batch occupies at
    * most `maxPrunedFps` distinct fingerprints (collected driver-side,
    * ~2/(w+1) of batch shingles), the index read carries
    * `fp IN (batch fps)` and the range clustering + fp bloom skip
    * every file holding none of them; a huge batch falls back to the
    * full fp read. The IN list never changes results — the fp join
    * would drop non-batch fingerprints anyway.
    */
  def screen(store: TableStore, indexTable: String, batch: DataFrame,
             idCol: String, textCol: String, minShared: Long = 1L,
             maxDf: Int = 64, maxPrunedFps: Int = 65536): DataFrame =
    screenOn(CorpusIndex.pin(store, indexTable)._1,
      store.readWhere(indexTable, _), batch, idCol, textCol, minShared,
      maxDf, maxPrunedFps)

  /** [[screen]] from a PINNED index generation
    * ([[graft.sources.TableStore.readAt]]) — the reproducible-screening
    * path (the [[DedupIndex.screenAt]] contract): a release pin
    * re-serves the exact screening decision no matter how many
    * refreshes landed since. The pinned read carries the same
    * `fp IN (batch fps)` filter, pruned by parquet row-group stats.
    */
  def screenAt(store: TableStore, indexTable: String, gen: Long,
               batch: DataFrame, idCol: String, textCol: String,
               minShared: Long = 1L, maxDf: Int = 64): DataFrame =
    screenOn(CorpusIndex.pin(store, indexTable, Some(gen))._1,
      store.readAt(indexTable, gen).filter(_), batch, idCol, textCol,
      minShared, maxDf, maxPrunedFps = 65536)

  /** [[screen]] against the index rows `index(pred)` yields under the
    * meta `m` — the live pruned read or a pinned generation's.
    */
  private def screenOn(m: Map[String, String],
                       index: Column => DataFrame, batch: DataFrame,
                       idCol: String, textCol: String, minShared: Long,
                       maxDf: Int, maxPrunedFps: Int): DataFrame = {
    require(minShared >= 1L,
      s"winnow screen: minShared must be >= 1, got $minShared")
    require(maxDf >= 1, s"winnow screen: maxDf must be >= 1, got $maxDf")
    val bb = fps(batch, idCol, textCol, m)
      .select(col("doc_id").as("id_b"), col("fp"))
    val fpKeys = bb.select(col("fp")).distinct()
      .limit(maxPrunedFps + 1).collect().map(_.getLong(0))
    val fpPred =
      if (fpKeys.length <= maxPrunedFps && fpKeys.nonEmpty)
        col("component") === "fp" &&
          col("fp").isin(fpKeys.map(Long.box): _*)
      else col("component") === "fp"
    val ix = index(fpPred).select(col("doc_id").as("id_a"), col("fp"))
    val kept = ix.withColumn("__df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp"))))
      .filter(col("__df") <= maxDf).drop("__df")
    kept.join(bb, Seq("fp"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
