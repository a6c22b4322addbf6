package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** Persisted ANN index artifacts — train ONCE, serve for months.
  *
  * Every inline ANN entry point ([[Similarity.ivfPqTopK]] etc.)
  * retrains its centroids/codebooks per call: correct for the oracle
  * gates, wrong at 100 TB where the index is trained on a sample once
  * and then served against a corpus that outlives many query batches.
  * This module makes the trained artifacts first-class data:
  *
  *  - [[AnnIndex]] holds the trained relations (coarse centroids, PQ
  *    codebooks, LSH band planes) plus a string-keyed param map
  *    (dim/m/ksub/…) that serving validates against.
  *  - [[AnnIndex.save]]/[[AnnIndex.load]] round-trip the artifact
  *    through a [[graft.sources.TableStore]] table (one narrow
  *    unified schema, a few KB-MB at any corpus size), so the index
  *    inherits the store's OCC commits, generations, and time travel:
  *    [[AnnIndex.loadAt]] of a pinned generation re-serves IDENTICAL
  *    results no matter how many retrains have been committed since —
  *    the reproducible-corpus contract extended to the serving path.
  *  - The `*TopK` serving overloads run the exact inline plans with
  *    training skipped; the differential contract (AnnIndexSpec) is
  *    save→load→serve ≡ the inline-trained call on the same fixture.
  *
  * Saved-table schema (component discriminates the row kind):
  * {{{
  *   component STRING   -- 'meta' | 'centroid' | 'codebook' | 'plane'
  *   sub       INT      -- codebook sub-block; -1 elsewhere
  *   cid       BIGINT   -- centroid / codeword / plane row id; -1 on meta
  *   vec       ARRAY<DOUBLE>  -- payload vector; NULL on meta
  *   meta      STRING   -- sorted-key JSON param map; NULL off meta
  * }}}
  */
final case class AnnIndex(
    method: String,
    params: Map[String, String],
    centroids: Option[DataFrame],
    codebook: Option[DataFrame],
    planes: Option[Array[Array[Double]]]) {

  def intParam(k: String): Int = param(k).toInt
  def param(k: String): String = params.getOrElse(k,
    throw new IllegalArgumentException(
      s"AnnIndex($method): missing param '$k' — " +
        s"have ${params.keys.toSeq.sorted.mkString(",")}"))

  private[operators] def requireMethod(m: String): Unit =
    require(method == m,
      s"AnnIndex method mismatch: index is '$method', serving needs '$m'")
}

object AnnIndex {

  val MethodIvf = "ivf-kmeans"
  val MethodPq = "pq"
  val MethodIvfPq = "ivf-pq"
  val MethodIvfPqResidual = "ivf-pq-residual"
  val MethodLsh = "lsh"

  // ------------------------------------------------------- training

  /** Coarse k-means index for [[ivfTopK]] serving: the
    * [[Similarity.kmeansCentroids]] deterministic Lloyd relation.
    * At 100 TB train on a [[Sampling.hashSample]] — centroids need
    * ~10⁵-10⁶ points, not the corpus.
    */
  def trainIvf(corpus: DataFrame, idCol: String, vecCol: String,
               kCoarse: Int, iters: Int = 2): AnnIndex =
    AnnIndex(MethodIvf,
      Map("kCoarse" -> kCoarse.toString, "iters" -> iters.toString),
      Some(Similarity.kmeansCentroids(corpus, idCol, vecCol, kCoarse,
        iters)),
      None, None)

  /** PQ codebook index for [[pqTopK]] serving ([[Similarity.pqTrain]]). */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, ksub: Int, iters: Int = 2): AnnIndex =
    AnnIndex(MethodPq,
      Map("dim" -> dim.toString, "m" -> m.toString,
        "ksub" -> ksub.toString, "iters" -> iters.toString),
      None,
      Some(Similarity.pqTrain(corpus, idCol, vecCol, dim, m, ksub,
        iters)),
      None)

  /** Coarse centroids + raw-vector PQ codebook for [[ivfPqTopK]]
    * serving — exactly the two relations [[Similarity.ivfPqTopK]]
    * trains inline.
    */
  def trainIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 dim: Int, m: Int, ksub: Int, kCoarse: Int,
                 coarseIters: Int = 2, pqIters: Int = 2): AnnIndex =
    AnnIndex(MethodIvfPq,
      Map("dim" -> dim.toString, "m" -> m.toString,
        "ksub" -> ksub.toString, "kCoarse" -> kCoarse.toString,
        "coarseIters" -> coarseIters.toString,
        "pqIters" -> pqIters.toString),
      Some(Similarity.kmeansCentroids(corpus, idCol, vecCol, kCoarse,
        coarseIters)),
      Some(Similarity.pqTrain(corpus, idCol, vecCol, dim, m, ksub,
        pqIters)),
      None)

  /** Coarse centroids + RESIDUAL-trained PQ codebook for
    * [[ivfPqResidualTopK]] serving: the codebook trains on
    * v − centroid residuals, so it depends on the centroids relation
    * — both must pin together, which the single saved table gives.
    */
  def trainIvfPqResidual(corpus: DataFrame, idCol: String,
                         vecCol: String, dim: Int, m: Int, ksub: Int,
                         kCoarse: Int, coarseIters: Int = 2,
                         pqIters: Int = 2): AnnIndex = {
    val cents = Similarity.kmeansCentroids(corpus, idCol, vecCol,
      kCoarse, coarseIters)
    val resDocs = residualDocs(corpus, idCol, vecCol, cents)
    AnnIndex(MethodIvfPqResidual,
      Map("dim" -> dim.toString, "m" -> m.toString,
        "ksub" -> ksub.toString, "kCoarse" -> kCoarse.toString,
        "coarseIters" -> coarseIters.toString,
        "pqIters" -> pqIters.toString),
      Some(cents),
      Some(Similarity.pqTrain(resDocs, "nid", "res", dim, m, ksub,
        pqIters)),
      None)
  }

  /** LSH band-plane index for [[lshTopK]] serving: materializes the
    * seeded hyperplanes so a saved index pins the EXACT planes a
    * recall evaluation certified (regenerating from (seed, dim) gives
    * the same planes today, but the artifact — not the generator — is
    * the contract a serving fleet should load).
    */
  def trainLsh(dim: Int, planes: Int = 16, bandBits: Int = 4,
               seed: Long = 42L): AnnIndex = {
    require(planes % bandBits == 0, "bandBits must divide planes")
    AnnIndex(MethodLsh,
      Map("dim" -> dim.toString, "planes" -> planes.toString,
        "bandBits" -> bandBits.toString, "seed" -> seed.toString),
      None, None,
      Some(Similarity.hyperplanes(planes, dim, seed)))
  }

  // ---------------------------------------------------- persistence

  /** Persist `index` as TableStore table `table` (full rewrite — the
    * artifact is one atomic unit; a torn centroids/codebook mix must
    * be unobservable, which the store's manifest-fenced swap gives).
    * Returns the committed GENERATION — pin it: [[loadAt]] of that
    * generation re-serves identical results after any number of later
    * retrains (subject to the store's retention window).
    */
  def save(store: TableStore, table: String, index: AnnIndex): Long = {
    val spark = (index.centroids orElse index.codebook)
      .map(_.sparkSession).getOrElse(SparkSession.active)
    import spark.implicits._
    val metaRow = Seq(("meta", -1, -1L, null: Seq[Double],
        CorpusIndex.jsonOf(index.params + ("method" -> index.method))))
      .toDF("component", "sub", "cid", "vec", "meta")
    val cents = index.centroids.map(_.select(lit("centroid"),
      lit(-1).cast("int"), col("cent_id").cast("long"),
      col("cent_v").cast("array<double>"), lit(null).cast("string"))
      .toDF("component", "sub", "cid", "vec", "meta"))
    val cb = index.codebook.map(_.select(lit("codebook"),
      col("sub").cast("int"), col("cid").cast("long"),
      col("cv").cast("array<double>"), lit(null).cast("string"))
      .toDF("component", "sub", "cid", "vec", "meta"))
    val pl = index.planes.map(hp => hp.toSeq.zipWithIndex.map {
      case (v, i) => ("plane", -1, i.toLong, v.toSeq, null: String)
    }.toDF("component", "sub", "cid", "vec", "meta"))
    val df = (Seq(metaRow) ++ cents ++ cb ++ pl).reduce(_ unionByName _)
    // the generation comes from THIS commit's CAS — a post-commit
    // generations().last could race a concurrent writer and pin a
    // later generation as the reproducibility anchor
    store.rewrite(table, df) // layout-preserving even first-time
    // (see CorpusIndex.write)
  }

  /** Load the LIVE index generation. */
  def load(store: TableStore, table: String): AnnIndex =
    fromRows(store.read(table))

  /** Load a PINNED index generation (time travel): the serve-side
    * reproducibility anchor — record the generation [[save]] returned
    * next to the corpus generation a run consumed, and `loadAt` both.
    */
  def loadAt(store: TableStore, table: String, gen: Long): AnnIndex =
    fromRows(store.readAt(table, gen))

  private def fromRows(rows: DataFrame): AnnIndex = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = rows.sparkSession
    // the artifact table is bounded by construction (one meta row +
    // k centroids + m·ksub codewords + planes — kilobytes at any
    // corpus size), so load it with ONE action: the per-component
    // filter/probe/collect form paid 4-6 separate scans of the saved
    // table per load, each a fresh store read
    val all = rows.select(col("component"), col("sub"), col("cid"),
      col("vec"), col("meta")).collect()
    val meta = all.filter(_.getString(0) == "meta")
    require(meta.length == 1,
      s"AnnIndex table: expected exactly one meta row, got ${meta.length}")
    val params = CorpusIndex.parseJson(meta(0).getString(4))
    val method = params.getOrElse("method",
      throw new IllegalArgumentException("AnnIndex meta: no method"))
    // component relations become LocalRelations: serving's bcast
    // collect is then job-free and its output plan (1-partition local
    // rows) is identical to the inline-trained form's
    def vecOf(r: Row): Seq[Double] = r.getSeq[Double](3)
    val centRows = all.filter(_.getString(0) == "centroid")
    val cents =
      if (centRows.isEmpty) None
      else Some(spark.createDataFrame(
        centRows.map(r => Row(r.getLong(2), vecOf(r))).toSeq.asJava,
        StructType(Seq(StructField("cent_id", LongType),
          StructField("cent_v", ArrayType(DoubleType))))))
    val cbRows = all.filter(_.getString(0) == "codebook")
    val cb =
      if (cbRows.isEmpty) None
      else Some(spark.createDataFrame(
        cbRows.map(r => Row(r.getInt(1), r.getLong(2), vecOf(r)))
          .toSeq.asJava,
        StructType(Seq(StructField("sub", IntegerType),
          StructField("cid", LongType),
          StructField("cv", ArrayType(DoubleType))))))
    val plRows = all.filter(_.getString(0) == "plane")
    val planes =
      if (plRows.isEmpty) None
      else Some(plRows.map(r => (r.getLong(2), vecOf(r).toArray))
        .sortBy(_._1).map(_._2))
    AnnIndex(method, params - "method", cents, cb, planes)
  }

  // -------------------------------------------------------- serving

  /** [[Similarity.ivfTopKKmeans]] with training skipped: routes and
    * ranks against the index's saved centroids.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
              idCol: String, vecCol: String, k: Int, nprobe: Int,
              index: AnnIndex): DataFrame = {
    index.requireMethod(MethodIvf)
    Similarity.ivfWithCentroids(queries, corpus, qidCol, idCol, vecCol,
      k, nprobe, bcast(index.centroids.get))
  }

  /** [[Similarity.pqTopK]] with training skipped: encodes `corpus`
    * under the saved codebook and ADC-ranks. (Encoding is linear
    * corpus work every call — persist the CODES as their own table
    * when the corpus is also static.)
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
             idCol: String, vecCol: String, k: Int,
             index: AnnIndex): DataFrame = {
    index.requireMethod(MethodPq)
    val (dim, m, ksub) = (index.intParam("dim"), index.intParam("m"),
      index.intParam("ksub"))
    val cb = bcast(index.codebook.get)
    val codes = Similarity.pqEncode(corpus, idCol, vecCol, dim, m, cb)
    Similarity.pqTopK(queries, codes, cb, qidCol, vecCol, dim, m, ksub, k)
  }

  /** [[Similarity.ivfPqTopK]] with training skipped — the exact
    * inline plan over the saved centroids + codebook.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
                idCol: String, vecCol: String, k: Int, nprobe: Int,
                index: AnnIndex): DataFrame = {
    index.requireMethod(MethodIvfPq)
    val (dim, m, ksub) = (index.intParam("dim"), index.intParam("m"),
      index.intParam("ksub"))
    val cents = bcast(index.centroids.get)
    val cb = bcast(index.codebook.get)
    val qv = queries.select(col(qidCol).as("qid"), col(vecCol).as("qid_v"))
    val assigned = Similarity.assignToCentroids(
      corpus.select(col(idCol).as("nid"), col(vecCol).as("nid_v")),
      "nid", cents)
      .select(col("nid").as("id"), col("cent_id"))
    val probes = TopK.perGroup(
      Similarity.centroidScores(qv, "qid", cents),
      Seq(col("qid")), Seq(col("csim").desc, col("cent_id")), nprobe)
      .select(col("qid"), col("cent_id"))
    val codes = Similarity.pqEncode(corpus, idCol, vecCol, dim, m, cb)
    val dtab = Similarity.pqDistTables(queries, qidCol, vecCol, dim, m,
      ksub, cb)
    val scored = codes.join(assigned, Seq("id"))
      .join(broadcast(probes.join(dtab, Seq("qid"))), Seq("cent_id"))
      .withColumn("dist",
        Similarity.adcScore(col("dtab"), col("codes"), ksub))
    Similarity.pqRank(scored, k)
  }

  /** [[Similarity.ivfPqTopKResidual]] with training skipped. */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
                        qidCol: String, idCol: String, vecCol: String,
                        k: Int, nprobe: Int,
                        index: AnnIndex): DataFrame = {
    index.requireMethod(MethodIvfPqResidual)
    val (dim, m, ksub) = (index.intParam("dim"), index.intParam("m"),
      index.intParam("ksub"))
    val cents = bcast(index.centroids.get)
    val cb = bcast(index.codebook.get)
    val qv = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast("array<double>").as("qid_v"))
    val resDocs = residualDocs(corpus, idCol, vecCol, cents)
    val codes = Similarity.pqEncode(resDocs, "nid", "res", dim, m, cb)
    val assigned = resDocs.select(col("nid").as("id"), col("cent_id"))
    val probes = TopK.perGroup(
      Similarity.centroidScores(qv, "qid", cents),
      Seq(col("qid")), Seq(col("csim").desc, col("cent_id")), nprobe)
      .select(col("qid"), col("cent_id"))
    val qres = probes.join(qv, Seq("qid")).join(broadcast(cents),
        Seq("cent_id"))
      .select(struct(col("qid"), col("cent_id")).as("qid"),
        zip_with(col("qid_v"), col("cent_v"), (a, b) => a - b).as("qres"))
    val dtab = Similarity.pqDistTables(qres, "qid", "qres", dim, m,
      ksub, cb)
      .select(col("qid.qid").as("qid"), col("qid.cent_id").as("cent_id"),
        col("dtab"))
    val scored = codes
      .join(assigned, Seq("id"))
      .join(broadcast(dtab), Seq("cent_id"))
      .withColumn("dist",
        Similarity.adcScore(col("dtab"), col("codes"), ksub))
    Similarity.pqRank(scored, k)
  }

  /** [[Similarity.lshTopK]] against the index's SAVED planes. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
              idCol: String, vecCol: String, k: Int,
              index: AnnIndex): DataFrame = {
    index.requireMethod(MethodLsh)
    Similarity.lshTopKWithPlanes(queries, corpus, qidCol, idCol, vecCol,
      k, index.planes.get, index.intParam("bandBits"))
  }

  // ------------------------------------- persisted codes (serving data)

  /** Encode `corpus` under the index's codebook and persist the codes
    * as TableStore table `codesTable` (`id`, `codes`) — the
    * corpus-scale half of the serving state (m bytes per vector vs
    * dim·4; the codebook itself stays kilobytes in the index table).
    * Full (re)build: [[refreshCodes]] is the incremental maintenance
    * path once the table exists. Returns the committed generation —
    * pin it NEXT TO the index generation; the pair is the complete
    * reproducible serving state.
    */
  def encodeAndSaveCodes(store: TableStore, codesTable: String,
                         corpus: DataFrame, idCol: String,
                         vecCol: String, index: AnnIndex): Long = {
    val codes = encodeFor(corpus, idCol, vecCol, index)
    // generation from this commit's CAS, not a racy generations().last
    store.rewrite(codesTable, codes) // layout-preserving even
    // first-time (see CorpusIndex.write)
  }

  /** INCREMENTAL code maintenance from a corpus CHANGE FEED
    * ([[graft.sources.TableStore.changesBetween]] output: rows +
    * `__change_type`) — [[CorpusIndex]]'s churn step: deleted ids
    * leave the codes table, inserted rows are encoded and appended —
    * cost scales with the CHURN, never the corpus (an update re-encodes
    * exactly its one row via its delete+insert pair; a corpus
    * compaction feeds nothing and this is a no-op). Insert ids are
    * deleted too, so an at-least-once replay never duplicates a code
    * row (which would surface one doc at two ranks in *TopKOnCodes).
    * The invariant (spec-gated): after a refresh, the codes table
    * equals a full [[encodeAndSaveCodes]] of the live corpus.
    * Corpus ids must be unique (the store's upsert-key convention).
    */
  def refreshCodes(store: TableStore, codesTable: String,
                   changes: DataFrame, idCol: String, vecCol: String,
                   index: AnnIndex): Unit =
    CorpusIndex.churn(store, codesTable, changes, col(idCol), "id")(
      encodeFor(_, idCol, vecCol, index))

  /** Serve PQ top-k from PERSISTED codes — no per-call encode: the
    * steady-state query path ([[Similarity.pqTopK]] over the codes
    * relation; corpus vectors are never read). `codes` is
    * `store.read(codesTable)` or a pinned `readAt`.
    */
  def pqTopKOnCodes(queries: DataFrame, codes: DataFrame,
                    qidCol: String, vecCol: String, k: Int,
                    index: AnnIndex): DataFrame = {
    index.requireMethod(MethodPq)
    val (dim, m, ksub) = (index.intParam("dim"), index.intParam("m"),
      index.intParam("ksub"))
    Similarity.pqTopK(queries, codes, bcast(index.codebook.get), qidCol,
      vecCol, dim, m, ksub, k)
  }

  /** Serve IVF-PQ top-k from PERSISTED (id, cent_id, codes) rows: the
    * complete steady-state query path — route queries to nprobe cells
    * against the saved centroids, ADC-fold ONLY the codes in probed
    * cells. Per query batch nothing corpus-scale moves: the codes
    * relation is filtered by the broadcast probe set and never
    * re-encoded, corpus vectors are never read.
    */
  def ivfPqTopKOnCodes(queries: DataFrame, codes: DataFrame,
                       qidCol: String, vecCol: String, k: Int,
                       nprobe: Int, index: AnnIndex): DataFrame = {
    index.requireMethod(MethodIvfPq)
    val (dim, m, ksub) = (index.intParam("dim"), index.intParam("m"),
      index.intParam("ksub"))
    val cents = bcast(index.centroids.get)
    val cb = bcast(index.codebook.get)
    val qv = queries.select(col(qidCol).as("qid"), col(vecCol).as("qid_v"))
    val probes = TopK.perGroup(
      Similarity.centroidScores(qv, "qid", cents),
      Seq(col("qid")), Seq(col("csim").desc, col("cent_id")), nprobe)
      .select(col("qid"), col("cent_id"))
    val dtab = Similarity.pqDistTables(queries, qidCol, vecCol, dim, m,
      ksub, cb)
    val scored = codes
      .join(broadcast(probes.join(dtab, Seq("qid"))), Seq("cent_id"))
      .withColumn("dist",
        Similarity.adcScore(col("dtab"), col("codes"), ksub))
    Similarity.pqRank(scored, k)
  }

  /** [[ivfPqTopKOnCodes]] for a RESIDUAL index: saved codes encode
    * v − centroid, so each query carries one distance table per
    * probed cell (computed on its own residual against that cell).
    */
  def ivfPqResidualTopKOnCodes(queries: DataFrame, codes: DataFrame,
                               qidCol: String, vecCol: String, k: Int,
                               nprobe: Int, index: AnnIndex): DataFrame = {
    index.requireMethod(MethodIvfPqResidual)
    val (dim, m, ksub) = (index.intParam("dim"), index.intParam("m"),
      index.intParam("ksub"))
    val cents = bcast(index.centroids.get)
    val cb = bcast(index.codebook.get)
    val qv = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast("array<double>").as("qid_v"))
    val probes = TopK.perGroup(
      Similarity.centroidScores(qv, "qid", cents),
      Seq(col("qid")), Seq(col("csim").desc, col("cent_id")), nprobe)
      .select(col("qid"), col("cent_id"))
    val qres = probes.join(qv, Seq("qid")).join(broadcast(cents),
        Seq("cent_id"))
      .select(struct(col("qid"), col("cent_id")).as("qid"),
        zip_with(col("qid_v"), col("cent_v"), (a, b) => a - b).as("qres"))
    val dtab = Similarity.pqDistTables(qres, "qid", "qres", dim, m,
      ksub, cb)
      .select(col("qid.qid").as("qid"), col("qid.cent_id").as("cent_id"),
        col("dtab"))
    val scored = codes
      .join(broadcast(dtab), Seq("cent_id"))
      .withColumn("dist",
        Similarity.adcScore(col("dtab"), col("codes"), ksub))
    Similarity.pqRank(scored, k)
  }

  /** The one encode convention shared by full build, incremental
    * refresh, and the serving differentials. Per method:
    * pq → (id, codes) raw-vector codes; ivf-pq → (id, cent_id, codes)
    * raw-vector codes + cell assignment; ivf-pq-residual →
    * (id, cent_id, codes) where codes encode v − assigned centroid.
    */
  private def encodeFor(corpus: DataFrame, idCol: String,
                        vecCol: String, index: AnnIndex): DataFrame = {
    val (dim, m) = (index.intParam("dim"), index.intParam("m"))
    val cb = bcast(index.codebook.getOrElse(throw
      new IllegalArgumentException(
        s"AnnIndex(${index.method}): no codebook — codes need a " +
          "pq / ivf-pq / ivf-pq-residual index")))
    index.method match {
      case MethodPq =>
        Similarity.pqEncode(corpus, idCol, vecCol, dim, m, cb)
      case MethodIvfPq =>
        val cents = bcast(index.centroids.get)
        val assigned = Similarity.assignToCentroids(
          corpus.select(col(idCol).as("nid"), col(vecCol).as("nid_v")),
          "nid", cents)
          .select(col("nid").as("id"), col("cent_id"))
        Similarity.pqEncode(corpus, idCol, vecCol, dim, m, cb)
          .join(assigned, Seq("id"))
      case MethodIvfPqResidual =>
        val cents = bcast(index.centroids.get)
        val resDocs = residualDocs(corpus, idCol, vecCol, cents)
        Similarity.pqEncode(resDocs, "nid", "res", dim, m, cb)
          .join(resDocs.select(col("nid").as("id"), col("cent_id")),
            Seq("id"))
      case other => throw new IllegalArgumentException(
        s"AnnIndex($other): codes are a PQ-family artifact")
    }
  }

  // -------------------------------------------------------- helpers

  /** The residual projection [[Similarity.ivfPqTopKResidual]] uses,
    * shared by its trainer and server so the two can't drift:
    * (nid, cent_id, res = v − assigned centroid).
    */
  private def residualDocs(corpus: DataFrame, idCol: String,
                           vecCol: String, cents: DataFrame): DataFrame = {
    val cv = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nid_v"))
    val assigned = Similarity.assignToCentroids(
      corpus.select(col(idCol).as("nid"), col(vecCol).as("nid_v")),
      "nid", cents)
    cv.join(assigned, Seq("nid"))
      .join(broadcast(cents), Seq("cent_id"))
      .select(col("nid"), col("cent_id"),
        zip_with(col("nid_v"), col("cent_v"), (a, b) => a - b).as("res"))
  }

  /** A loaded index relation is a k-row parquet scan — pin it local
    * so every serving join broadcasts it exactly like the
    * inline-trained local relation would.
    */
  private def bcast(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows = df.collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), df.schema)
  }
}
