package graft.operators

import org.apache.spark.sql.DataFrame
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
  * Protocol is [[DedupIndex]]'s verbatim: parameters (k, w, salt)
  * pinned in the stats row so a screen can never fingerprint into a
  * different hash space; the stats row records the corpus GENERATION
  * the fingerprints reflect; [[refreshFromCorpus]] folds the change
  * feed idempotently (doc-keyed delete-before-append) and advances the
  * anchor in its LAST commit, so a crash anywhere heals by calling
  * refresh again.
  *
  * Layout: ONE table, rows (component, doc_id, fp, meta, corpus_gen);
  * fp rows range-clustered by fp and analyze()d with an fp bloom, so a
  * screen's `fp IN (batch fingerprints)` read prunes at the file
  * level — a small batch touches the files its fingerprints live in,
  * not the index (fingerprint density is ~2/(w+1) of corpus shingles,
  * so the index is a fraction of corpus token volume to begin with).
  */
object WinnowIndex {

  /** [[Dedup.winnowFingerprints]] — literally; sharing the definition
    * makes "the persisted index cannot drift from the inline
    * fingerprinting" a compile-time property.
    */
  private def fpFrame(df: DataFrame, idCol: String, textCol: String,
                      k: Int, w: Int, salt: String): DataFrame =
    Dedup.winnowFingerprints(
        df.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol, k, w, salt)
      .select(col(idCol).cast("long").as("doc_id"), col("fp"))
      .distinct()

  private def indexRows(fpRows: DataFrame, k: Int, w: Int, salt: String,
                        corpusGen: Long): DataFrame = {
    val meta = AnnIndex.jsonOf(Map("k" -> k.toString, "w" -> w.toString,
      "salt" -> salt))
    val stats = fpRows.sparkSession.range(1).select(
      lit("stats").as("component"), lit(null).cast("long").as("doc_id"),
      lit(null).cast("long").as("fp"), lit(meta).as("meta"),
      lit(corpusGen).as("corpus_gen"))
    fpRows.select(lit("fp").as("component"), col("doc_id"), col("fp"),
        lit(null).cast("string").as("meta"),
        lit(null).cast("long").as("corpus_gen"))
      .unionByName(stats)
  }

  /** Build the fingerprint index over a CORPUS TABLE in the same
    * store, pinning the corpus generation consumed. `indexFiles` > 0
    * fixes the fp-range file count (0 lets AQE pick). Returns the
    * generation of the index's [[TableStore.analyze]] commit, so a
    * pin covers the stats too.
    */
  def buildFromCorpus(store: TableStore, corpusTable: String,
                      indexTable: String, idCol: String, textCol: String,
                      k: Int = 4, w: Int = 5, salt: String = "winnow",
                      indexFiles: Int = 0): Long = {
    val gen = store.generations(corpusTable).last
    val rows = indexRows(
      fpFrame(store.readAt(corpusTable, gen), idCol, textCol, k, w,
        salt), k, w, salt, gen)
    val ranged =
      if (indexFiles > 0)
        rows.repartitionByRange(indexFiles, col("component"), col("fp"))
      else rows.repartitionByRange(col("component"), col("fp"))
    val clustered = ranged
      .sortWithinPartitions(col("component"), col("fp"), col("doc_id"))
    store.rewrite(indexTable, clustered) // layout-preserving even
    // first-time (see LexIndex.buildFrom)
    store.analyze(indexTable, Seq("component", "fp", "doc_id"),
      bloomCols = Seq("fp"))
  }

  /** (k, w, salt, corpus_gen) from the pinned stats row. */
  private def params(store: TableStore, indexTable: String)
      : (Int, Int, String, Long) = {
    val rows = store
      .readWhere(indexTable, col("component") === "stats")
      .select(col("meta"), col("corpus_gen")).collect()
    require(rows.length == 1,
      s"winnow index $indexTable must hold exactly ONE stats row, " +
        s"found ${rows.length}")
    val m = AnnIndex.parseJson(rows.head.getString(0))
    (m("k").toInt, m("w").toInt, m("salt"), rows.head.getLong(1))
  }

  /** Catch the index up to the corpus table's current generation from
    * the change feed — the [[DedupIndex.refreshFromCorpus]] protocol
    * with fingerprints in place of bands. Idempotent; no-op when
    * current. Returns the corpus generation the index now reflects.
    */
  def refreshFromCorpus(store: TableStore, corpusTable: String,
                        indexTable: String, idCol: String,
                        textCol: String): Long = {
    val (k, w, salt, from) = params(store, indexTable)
    val to = store.generations(corpusTable).last
    if (to == from) return to
    val changes = store.changesBetween(corpusTable, from, to)
    val del = changes
      .filter(col("__change_type").isin("delete", "insert"))
      .select(col(idCol).cast("long").as("doc_id")).distinct()
    store.deleteByKeys(indexTable, del, Seq("doc_id"))
    val ins = changes.filter(col("__change_type") === "insert")
    store.append(indexTable,
      fpFrame(ins, idCol, textCol, k, w, salt)
        .select(lit("fp").as("component"), col("doc_id"), col("fp"),
          lit(null).cast("string").as("meta"),
          lit(null).cast("long").as("corpus_gen")))
    store.updateWhere(indexTable, col("component") === "stats",
      Seq("corpus_gen" -> lit(to).cast("long")))
    store.analyzeIncremental(indexTable, Seq("component", "fp", "doc_id"),
      bloomCols = Seq("fp"))
    to
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
             maxDf: Int = 64, maxPrunedFps: Int = 65536): DataFrame = {
    require(minShared >= 1L,
      s"winnow screen: minShared must be >= 1, got $minShared")
    require(maxDf >= 1, s"winnow screen: maxDf must be >= 1, got $maxDf")
    val (k, w, salt, _) = params(store, indexTable)
    val bb = fpFrame(batch, idCol, textCol, k, w, salt)
      .select(col("doc_id").as("id_b"), col("fp"))
    val fpKeys = bb.select(col("fp")).distinct()
      .limit(maxPrunedFps + 1).collect().map(_.getLong(0))
    val fpPred =
      if (fpKeys.length <= maxPrunedFps && fpKeys.nonEmpty)
        col("component") === "fp" &&
          col("fp").isin(fpKeys.map(Long.box): _*)
      else col("component") === "fp"
    val ix = store.readWhere(indexTable, fpPred)
      .select(col("doc_id").as("id_a"), col("fp"))
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

  /** [[screen]] from a PINNED index generation
    * ([[TableStore.readAt]]) — the reproducible-screening path (the
    * [[DedupIndex.screenAt]] contract): a release pin re-serves the
    * exact screening decision no matter how many refreshes landed
    * since. No file pruning (readAt reads the pinned inventory).
    */
  def screenAt(store: TableStore, indexTable: String, gen: Long,
               batch: DataFrame, idCol: String, textCol: String,
               minShared: Long = 1L, maxDf: Int = 64): DataFrame = {
    require(minShared >= 1L,
      s"winnow screenAt: minShared must be >= 1, got $minShared")
    require(maxDf >= 1,
      s"winnow screenAt: maxDf must be >= 1, got $maxDf")
    val rows = store.readAt(indexTable, gen)
    val stats = rows.filter(col("component") === "stats")
      .select(col("meta")).collect()
    require(stats.length == 1,
      s"winnow index $indexTable@$gen: expected one stats row, " +
        s"got ${stats.length}")
    val m = AnnIndex.parseJson(stats.head.getString(0))
    val bb = fpFrame(batch, idCol, textCol, m("k").toInt,
        m("w").toInt, m("salt"))
      .select(col("doc_id").as("id_b"), col("fp"))
    val ix = rows.filter(col("component") === "fp")
      .select(col("doc_id").as("id_a"), col("fp"))
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
