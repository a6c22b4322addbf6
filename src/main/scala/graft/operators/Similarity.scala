package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.plans.PlanShape.filterOnce

/** Similarity search over embedding columns (north-star operator; the
  * reference delegates this to Pinecone,
  * transcripts_to_vector_db.py:303-313 — here it's engine-native).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact. Queries are broadcast (a query batch is
  *    always ≪ corpus); the corpus is scanned once, narrow, and the
  *    per-query top-k is a window over (query, sim) — the only shuffle.
  *    At 100 TB this is the correct baseline: one pass, no index.
  *  - [[lshTopK]]: approximate scale path. Random-hyperplane signatures
  *    bucket the corpus (narrow projection, deterministic seed); only
  *    same-bucket candidates get exact cosine. Recall is tunable by
  *    `planes` (signature resolution) and `bandBits` (bucket width:
  *    fewer bits per band = more permissive candidate matching).
  *  - [[cosineNearDupPairs]]: corpus-wide near-duplicate PAIRS above a
  *    cosine threshold via the same banded signatures — the scale
  *    replacement for the exact O(n²) verifier (q22).
  *
  * Shuffle discipline (the 100 TB contract): embedding arrays never ride
  * an exchange. Band/centroid keys and candidate pairs move as bare ids;
  * vectors are re-joined only for the final exact-cosine stage, and the
  * top-k window sees (qid, nid, sim) rows only.
  */
object Similarity {

  // Owned-pin registry (the Dedup.releaseIntermediates pattern): frames
  // persisted because they feed multiple consumers of an EXPENSIVE
  // upstream (semDedup's centroid assignment — the N×nlist cosine
  // stage, which three consumers would otherwise each recompute).
  // Process-global like Dedup's; concurrent runs stay correct (an early
  // release only forces a recompute from source).
  private val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private def track(df: DataFrame): DataFrame = synchronized {
    pinned += df; df
  }
  // one-line enrollment in the engine-wide release point
  graft.Engine.register("Similarity")(() => releaseIntermediates())

  /** Unpersist every intermediate frame Similarity operators have
    * pinned (currently: [[semDedup]]'s assignment relation). Returned
    * frames stay valid — re-evaluation recomputes from source.
    */
  def releaseIntermediates(): Unit = synchronized {
    pinned.foreach(_.unpersist(blocking = false))
    pinned.clear()
  }

  /** Deterministic pseudo-random hyperplanes: `planes` rows × `dim`
    * values in [-0.5, 0.5), seeded — same plan every run/cluster size.
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextDouble() - 0.5)
  }

  /** Corpus-derived LSH band width: constant expected bucket occupancy
    * means `2^bandBits ≈ n / targetBucketSize`, i.e.
    * `bandBits = ⌈log₂(n) − log₂(targetBucketSize)⌉`, clamped to
    * [`minBits`, 15] (so `nBands × bandBits` stays inside the 63-bit
    * packed-long signature with the default 4 bands). This is the
    * measured fix for the fixed-parameter Θ(N²/2^bandBits) scale law:
    * at the 20k-vector sf1 fixture, sizing 4→8 bits cut the near-dup
    * band join 38.0 s → 6.2 s (PLANS.md sf1 spot check, part 2).
    */
  def sizedBandBits(n: Long, targetBucketSize: Int = 64,
                    minBits: Int = 4, maxBits: Int = 15): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    require(targetBucketSize > 0, "targetBucketSize must be positive")
    require(maxBits >= minBits,
      s"maxBits ($maxBits) must be >= minBits ($minBits)")
    val raw = math.ceil(
      math.log(n.toDouble / targetBucketSize) / math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, raw))
  }

  /** Band-bit cap for a given band count: signatures pack into one
    * long, so `nBands × bandBits` must stay ≤ 63 — without this cap a
    * large corpus with nBands > 4 would derive planes > 63 and the
    * packed shifts would wrap, silently corrupting every signature.
    */
  private[operators] def sizedBandBitsFor(n: Long, nBands: Int,
                                          targetBucketSize: Int): Int = {
    require(nBands >= 1 && 63 / nBands >= 4,
      s"nBands ($nBands) leaves fewer than 4 bits per band in a " +
        "63-bit packed signature")
    sizedBandBits(n, targetBucketSize, minBits = 4, maxBits = 63 / nBands)
  }

  /** Corpus-derived IVF centroid spacing: the standard nlist ≈ √N
    * sizing (`centroidEvery ≈ ⌈√N⌉`, floored at 16) makes the
    * assignment stage Θ(N^1.5) instead of the fixed-spacing Θ(N²/c).
    * Measured at the 20k-vector sf1 fixture: 12.6 s → 3.3 s
    * (PLANS.md sf1 spot check, part 2).
    */
  def sizedCentroidEvery(n: Long, floor: Int = 16): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    math.max(floor, math.ceil(math.sqrt(n.toDouble)).toInt)
  }

  /** Corpus-sized coarse-list COUNT for the trained-centroid paths
    * ([[ivfTopKKmeans]]/[[ivfPqTopK]]/[[ivfPqTopKResidual]]): nlist ≈
    * ⌈√N⌉ (capped below by 1, above by N) — the same √N law as
    * [[sizedCentroidEvery]], expressed as a count because k-means
    * takes `k` directly rather than a spacing.
    */
  def sizedKCoarse(n: Long): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    val k = math.ceil(math.sqrt(n.toDouble)).toLong
    // ceil(sqrt(n)) is in [1, n] for every legal n; only the Int cast
    // needs a guard (n > ~4.6e18 would overflow it)
    require(k <= Int.MaxValue, s"kCoarse $k exceeds Int.MaxValue")
    k.toInt
  }

  /** Corpus row count for the self-sizing entry points: one bounded
    * metadata job (a count over the id column) unless the caller
    * already knows N. Callers with an expensive upstream should pass
    * `corpusCount` or persist the corpus — the count executes the plan.
    */
  private[operators] def countOf(corpus: DataFrame, idCol: String,
                                 given: Option[Long]): Long =
    given.getOrElse(corpus.select(col(idCol)).count())

  /** Sign-bit signature of a vector against the given hyperplanes,
    * packed into a long (planes <= 63). Delegates to the native
    * [[graft.plans.PlaneSignatureExpr]] — one tight loop per row instead
    * of `planes` interpreted dot-folds; bit-equal to [[planeSignatureHof]].
    */
  def planeSignature(vec: Column, planes: Array[Array[Double]]): Column =
    call_function("graft_plane_sig", vec,
      typedLit(planes.map(_.toSeq).toSeq))

  /** Composed-builtin signature (per-plane zip_with/fold dots): the
    * reference implementation the native expression is validated against.
    */
  def planeSignatureHof(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      val d = VectorFunctions.dot(vec, planeCol)
      when(d > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact top-k neighbors for each query row.
    * @param queries DataFrame with (qidCol, vecCol)
    * @param corpus  DataFrame with (idCol, vecCol)
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qidCol: String, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val scored = filterOnce(c.crossJoin(broadcast(q)),
        "sim", VectorFunctions.cosine(col("qv"), col("nv")), _.isNotNull)
      .select(col("qid"), col("nid"), col("sim")) // narrow into the window
    TopK.perGroup(scored, Seq(col("qid")),
      Seq(col("sim").desc, col("nid")), k)
      .select(col("qid"), col("nid"), col("sim"), col("rk"))
  }

  /** k-NN majority-vote classification over a labeled embedding
    * corpus (Fix & Hodges 1951 via Cover & Hart 1967): each query's k
    * most-cosine-similar LABELED neighbors vote; the winner (ties by
    * smallest label — deterministic) is the prediction. `excludeSelf`
    * drops qid == nid pairs BEFORE ranking (leave-one-out evaluation:
    * a held-out query that still lives in the corpus must not vote
    * for itself). NULL-labeled corpus rows never rank (they can't
    * vote). Returns (qid, pred_label, votes).
    *
    * Exact audit form: [[bruteForceTopK]]'s movement contract — the
    * query batch broadcasts, only (qid, nid, label, sim) enters the
    * per-query top-k window, the vote argmax is a second ≤ k-row
    * window.
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame,
                  qidCol: String, idCol: String, vecCol: String,
                  labelCol: String, k: Int,
                  excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("nid"), col(vecCol).as("nv"),
        col(labelCol).cast("long").as("label"))
    val paired = c.crossJoin(broadcast(q))
    val base =
      if (excludeSelf) paired.filter(col("qid") =!= col("nid"))
      else paired
    val scored = filterOnce(base, "sim",
        VectorFunctions.cosine(col("qv"), col("nv")), _.isNotNull)
      .select(col("qid"), col("nid"), col("label"), col("sim"))
    voteOf(TopK.perGroup(scored, Seq(col("qid")),
      Seq(col("sim").desc, col("nid")), k))
  }

  /** The shared majority vote: count labels per query, argmax with
    * (votes desc, label asc) — one ≤ k-row window per query
    * (WindowGroupLimit shape). */
  private[operators] def voteOf(topk: DataFrame): DataFrame = {
    val votes = topk.groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
    TopK.perGroup(votes, Seq(col("qid")),
      Seq(col("votes").desc, col("label").asc), 1, "__vr")
      .select(col("qid"), col("label").as("pred_label"),
        col("votes").cast("long").as("votes"))
  }

  /** Hard-negative mining for contrastive/retrieval training (the
    * Karpukhin 2020 DPR recipe): for each anchor, the k most similar
    * corpus vectors whose label DIFFERS from the anchor's — the
    * negatives that actually move a contrastive loss. Same movement
    * contract as [[bruteForceTopK]] (anchor batch broadcasts, only
    * (qid, nid, sim) reaches the top-k window); the label inequality
    * is a broadcast-side predicate evaluated BEFORE the window, so
    * same-label pairs never rank. NULL-labeled rows are dropped on
    * both sides (a null label can't certify "different"). This is
    * the exact audit form — at corpus scale feed the same label
    * filter through [[ivfTopK]]'s probed cells instead.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
                    qidCol: String, idCol: String, vecCol: String,
                    labelCol: String, k: Int): DataFrame = {
    val q = anchors.filter(col(labelCol).isNotNull)
      .select(col(qidCol).as("qid"), col(vecCol).as("qv"),
        col(labelCol).as("__ql"))
    val c = corpus.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("nid"), col(vecCol).as("nv"),
        col(labelCol).as("__nl"))
    val scored = filterOnce(
        c.crossJoin(broadcast(q)).filter(col("__nl") =!= col("__ql")),
        "sim", VectorFunctions.cosine(col("qv"), col("nv")),
        _.isNotNull)
      .select(col("qid"), col("nid"), col("sim"))
    TopK.perGroup(scored, Seq(col("qid")),
      Seq(col("sim").desc, col("nid")), k)
      .select(col("qid"), col("nid"), col("sim"), col("rk"))
  }

  /** [[hardNegatives]]' corpus-scale serving path: the label
    * inequality riding [[ivfTopK]]'s probed inverted lists — the
    * anchor probes its `nprobe` best coarse cells, candidates come
    * only from those cells, same-label candidates are dropped BEFORE
    * the exact rerank. Identical probe/assignment plan to q31's
    * audited IVF shape plus two bounded label joins on the CANDIDATE
    * frame (probe-bounded, never corpus-wide). Recall contract
    * matches IVF's: a true hard negative in an unprobed cell is
    * missed — raise `nprobe` to trade cost for recall (the q126
    * recall gate measures exactly this family).
    */
  def hardNegativesIvf(anchors: DataFrame, corpus: DataFrame,
                       qidCol: String, idCol: String, vecCol: String,
                       labelCol: String, k: Int,
                       centroidEvery: Int = 32,
                       nprobe: Int = 3): DataFrame = {
    val q = anchors.filter(col(labelCol).isNotNull)
    val c = corpus.filter(col(labelCol).isNotNull)
    val cents = c
      .filter(pmod(col(idCol), lit(centroidEvery)) === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v"))
    val qv = q.select(col(qidCol).as("qid"), col(vecCol).as("qid_v"))
    val cv = c.select(col(idCol).as("nid"), col(vecCol).as("nid_v"))
    val corpusAssigned = assignToCentroids(cv, "nid", cents)
    val queryProbes = TopK.perGroup(centroidScores(qv, "qid", cents),
      Seq(col("qid")), Seq(col("csim").desc, col("cent_id")), nprobe)
      .select(col("qid"), col("cent_id"))
    val candIds = corpusAssigned
      .join(broadcast(queryProbes), Seq("cent_id"))
      .select(col("qid"), col("nid")).distinct()
    val ql = q.select(col(qidCol).as("qid"), col(labelCol).as("__ql"))
    val nl = c.select(col(idCol).as("nid"), col(labelCol).as("__nl"))
    val filtered = candIds
      .join(broadcast(ql), Seq("qid"))
      .join(nl, Seq("nid"))
      .filter(col("__nl") =!= col("__ql"))
      .select(col("qid"), col("nid"))
    rankCandidates(filtered, cv, qv, k)
  }

  /** Embedding-norm hygiene profile — the vector-column sanity screen
    * run before any ANN index build (un-normalized batches, zeroed
    * rows and scale drift between embedding-model versions all show
    * up as norm² outliers): per label, the count and min/max/mean of
    * ⌊10⁶·‖v‖²⌋. The squared norm is the q20-contract left-to-right
    * double fold (bit-equal to DuckDB's list_dot_product), quantized
    * PER ROW before the exact long aggregation — so the profile is
    * engine-portable with no float accumulation order anywhere.
    * Returns (label, n, min_norm2_micro, max_norm2_micro,
    * mean_norm2_micro). One label-keyed map-side aggregate.
    */
  def normProfile(vectors: DataFrame, vecCol: String,
                  labelCol: String): DataFrame =
    vectors.filter(col(labelCol).isNotNull)
      .select(col(labelCol).cast("long").as("label"),
        floor(lit(1000000.0) *
          VectorFunctions.dot(col(vecCol), col(vecCol)))
          .cast("long").as("__n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("__n2")).cast("long").as("min_norm2_micro"),
        max(col("__n2")).cast("long").as("max_norm2_micro"),
        expr("SUM(__n2) div COUNT(*)").cast("long")
          .as("mean_norm2_micro"))

  /** Per-DIMENSION embedding profile — the coordinate-level sibling
    * of [[normProfile]]: for every dimension, the quantized
    * ⌊10³·v⌋ milli extremes and mean — dead dimensions (all zero),
    * clipped ones (pinned extremes) and batch drift (mean walking off
    * 0) all show here before they poison an index. float32→double is
    * exact and ×10³ is one correctly-rounded IEEE op, so the per-row
    * floors are engine-portable (the [[normProfile]] argument); the
    * MEAN sign-splits before its division (negative sums floor
    * differently across engines). Returns
    * (dim, n, mean_milli, min_milli, max_milli).
    *
    * Scale: one posexplode (rows × dim — a narrow long pair) into a
    * dim-keyed map-side aggregate; |dims| rows out.
    */
  def dimProfile(vectors: DataFrame, vecCol: String): DataFrame = {
    val D = "decimal(38,0)"
    vectors
      .select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim").cast("long").as("dim"),
        floor(lit(1000.0) * col("__v").cast("double")).cast("long")
          .as("__q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__q")).cast(D).as("__s"),
        min(col("__q")).cast("long").as("min_milli"),
        max(col("__q")).cast("long").as("max_milli"))
      .select(col("dim"), col("n"),
        expr(s"""CAST((CASE WHEN __s >= 0 THEN 1 ELSE -1 END)
          * (ABS(__s) div n) AS BIGINT)""").as("mean_milli"),
        col("min_milli"), col("max_milli"))
  }

  /** Int8-quantized maximum-inner-product top-k — the serving-scale
    * memory path: 4× smaller vectors than float32 (the quantized corpus
    * column is `array<tinyint>` + one double scale per vector), and the
    * score is an EXACT integer dot product ([[graft.plans.IntDotExpr]]),
    * so results are bit-portable to any engine — no float-accumulation
    * drift. Same movement contract as [[bruteForceTopK]]: quantization
    * is a narrow projection, the query batch broadcasts, only
    * (qid, nid, dot) reaches the top-k window.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame,
                    qidCol: String, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    // scale in its own projection: it is referenced per element by the
    // quantize HOF and must not be recomputed per element
    def quant(df: DataFrame, id: String, out: String): DataFrame =
      df.select(col(id).as(out), col(vecCol).as("__v"),
          VectorFunctions.i8Scale(col(vecCol)).as("__s"))
        .select(col(out),
          VectorFunctions.i8Quantize(col("__v"), col("__s"))
            .as(s"${out}_q"))
    val q = quant(queries, qidCol, "qid")
    val c = quant(corpus, idCol, "nid")
    val scored = filterOnce(c.crossJoin(broadcast(q)),
        "dot", VectorFunctions.intDot(col("qid_q"), col("nid_q")),
        _.isNotNull)
      .select(col("qid"), col("nid"), col("dot"))
    TopK.perGroup(scored, Seq(col("qid")),
      Seq(col("dot").desc, col("nid")), k)
      .select(col("qid"), col("nid"), col("dot"), col("rk"))
  }

  /** Candidate (qid, nid) pairs re-joined with their vectors, scored
    * once, ranked per query. Shared tail of the LSH/IVF paths.
    */
  private def rankCandidates(candIds: DataFrame, cv: DataFrame,
                             qv: DataFrame, k: Int): DataFrame = {
    val cands = filterOnce(
      candIds.join(cv, Seq("nid")).join(broadcast(qv), Seq("qid")),
      "sim", VectorFunctions.cosine(col("qid_v"), col("nid_v")), _.isNotNull)
      .select(col("qid"), col("nid"), col("sim"))
    TopK.perGroup(cands, Seq(col("qid")),
      Seq(col("sim").desc, col("nid")), k)
      .select(col("qid"), col("nid"), col("sim"), col("rk"))
  }

  /** IVF-style approximate top-k: a deterministic subset of the corpus
    * acts as coarse centroids; every vector is assigned to its best
    * centroid by cosine (narrow projection over a broadcast centroid
    * array); a query probes its own top-`nprobe` centroid lists and runs
    * exact cosine only there. Corpus assignment is a map-side-combined
    * max_by aggregation (one narrow row per corpus id crosses the wire);
    * candidate pairs travel as bare ids and vectors re-join at the end.
    *
    * Sizing at scale: nlist = N / `centroidEvery`, and the assignment
    * stage costs N × nlist cosines — a FIXED `centroidEvery` is
    * Θ(N²/centroidEvery). Scale `centroidEvery` ≈ √N (nlist ≈ √N, the
    * standard IVF sizing) so assignment is Θ(N^1.5): measured at the
    * 20k-vector sf1 fixture, √N spacing cut 12.6 s → 3.3 s (PLANS.md
    * sf1 spot check, part 2). [[ivfTopKSized]] derives the spacing
    * from the corpus count — the production entry point; this fixed
    * form is the q31 oracle contract.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qidCol: String, idCol: String, vecCol: String,
              k: Int, centroidEvery: Int = 32, nprobe: Int = 3): DataFrame = {
    val cents = corpus
      .filter(pmod(col(idCol), lit(centroidEvery)) === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v"))
    ivfWithCentroids(queries, corpus, qidCol, idCol, vecCol, k, nprobe,
      cents)
  }

  /** [[ivfTopK]] with centroids TRAINED by [[kmeansFit]] instead of
    * sampled from corpus rows — real Lloyd's means are tighter
    * inverted-list anchors, so probes at the same `nprobe` see more of
    * the true neighborhood. Same probe/assignment plan as `ivfTopK`;
    * only the (tiny, broadcast) centroid relation differs. Size
    * `kCentroids` ≈ √N like [[ivfTopKSized]]'s spacing; training cost
    * is `trainIters` linear passes.
    */
  def ivfTopKKmeans(queries: DataFrame, corpus: DataFrame,
                    qidCol: String, idCol: String, vecCol: String,
                    k: Int, kCentroids: Int, trainIters: Int = 3,
                    nprobe: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, kCentroids,
      trainIters)
    ivfWithCentroids(queries, corpus, qidCol, idCol, vecCol, k, nprobe,
      cents)
  }

  /** Per-centroid cosine scores for rows of `df` carrying (`id`,
    * `${id}_v`): narrow broadcast nested loop, the vector column is
    * dropped before anything shuffles. Shared by the IVF probe and
    * [[semDedup]].
    */
  private[operators] def centroidScores(df: DataFrame, id: String,
                             cents: DataFrame): DataFrame =
    filterOnce(df.crossJoin(broadcast(cents)),
      "csim", VectorFunctions.cosine(col(s"${id}_v"), col("cent_v")),
      _.isNotNull)
      .select(col(id), col("cent_id"), col("csim"))

  /** Best centroid per row of `df` (columns `id`, `${id}_v`) →
    * (`id`, cent_id): max_by with the window's exact tie-break (csim
    * desc, then min cent_id) — partial-aggregates map-side, unlike a
    * row_number window. Rows whose every csim is NULL (zero vectors)
    * get no assignment and vanish, matching the oracle's
    * `WHERE csim IS NOT NULL` rank.
    */
  private[operators] def assignToCentroids(df: DataFrame, id: String,
                                cents: DataFrame): DataFrame =
    centroidScores(df, id, cents).groupBy(col(id))
      .agg(max_by(col("cent_id"),
        struct(col("csim"), (-col("cent_id")).as("tb"))).as("cent_id"))

  private[operators] def ivfWithCentroids(queries: DataFrame, corpus: DataFrame,
                               qidCol: String, idCol: String,
                               vecCol: String, k: Int, nprobe: Int,
                               cents: DataFrame): DataFrame = {
    val qv = queries.select(col(qidCol).as("qid"), col(vecCol).as("qid_v"))
    val cv = corpus.select(col(idCol).as("nid"), col(vecCol).as("nid_v"))
    val corpusAssigned = assignToCentroids(cv, "nid", cents)
    val queryProbes = TopK.perGroup(centroidScores(qv, "qid", cents),
      Seq(col("qid")), Seq(col("csim").desc, col("cent_id")), nprobe)
      .select(col("qid"), col("cent_id"))
    val candIds = corpusAssigned.join(broadcast(queryProbes), Seq("cent_id"))
      .select(col("qid"), col("nid")).distinct()
    rankCandidates(candIds, cv, qv, k)
  }

  /** Band-key array for a signature column: struct(b, bits) per band.
    * ONE definition — the banding math is the contract the q21/q38 SQL
    * oracles replay, so every caller must slice identically.
    */
  private[operators] def bandKeys(sigCol: Column, nBands: Int, bandBits: Int): Column = {
    val mask = (1L << bandBits) - 1
    array((0 until nBands).map(b =>
      struct(lit(b).as("b"),
        shiftrightunsigned(sigCol, b * bandBits)
          .bitwiseAND(lit(mask)).as("bits"))): _*)
  }

  /** Approximate top-k: candidates = corpus rows whose plane-signature
    * band matches the query's (bands of `bandBits` planes, pigeonhole:
    * any candidate differing in < nBands bands shares one). Band rows
    * are (id, band) only — the explode never duplicates the embedding —
    * and exact cosine runs once per distinct (qid, nid) candidate.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              qidCol: String, idCol: String, vecCol: String,
              k: Int, dim: Int, planes: Int = 16, bandBits: Int = 4,
              seed: Long = 42L): DataFrame = {
    require(planes % bandBits == 0, "bandBits must divide planes")
    lshTopKWithPlanes(queries, corpus, qidCol, idCol, vecCol, k,
      hyperplanes(planes, dim, seed), bandBits)
  }

  /** [[lshTopK]] against EXPLICIT hyperplanes — the serving form for a
    * persisted plane set ([[AnnIndex.lshTopK]]): the saved artifact,
    * not the (seed, dim) generator, is the recall contract a serving
    * fleet loads.
    */
  def lshTopKWithPlanes(queries: DataFrame, corpus: DataFrame,
                        qidCol: String, idCol: String, vecCol: String,
                        k: Int, hp: Array[Array[Double]],
                        bandBits: Int): DataFrame = {
    val planes = hp.length
    require(planes > 0 && planes % bandBits == 0,
      "bandBits must divide the plane count")
    val nBands = planes / bandBits
    val qv = queries.select(col(qidCol).as("qid"), col(vecCol).as("qid_v"))
    val cv = corpus.select(col(idCol).as("nid"), col(vecCol).as("nid_v"))
    def banded(df: DataFrame, id: String): DataFrame =
      df.withColumn("__sig", planeSignature(col(s"${id}_v"), hp))
        .withColumn("band", explode(bandKeys(col("__sig"), nBands, bandBits)))
        .select(col(id), col("band"))
    val candIds = banded(cv, "nid").join(broadcast(banded(qv, "qid")), Seq("band"))
      .select(col("qid"), col("nid")).distinct()
    rankCandidates(candIds, cv, qv, k)
  }

  /** Embedding near-duplicate pairs (id_a < id_b, cosine >= threshold)
    * over banded hyperplane signatures: the 100 TB form of the exact
    * pairwise verifier — candidates come from ONE band self-join of
    * (id, band) rows (no vectors in the exchange, no cross join),
    * exact cosine runs once per distinct candidate pair after the
    * vectors re-join. Same banding math as [[lshTopK]], so the whole
    * pipeline stays oracle-expressible in SQL.
    *
    * Sizing at scale: each band has 2^`bandBits` buckets, so the band
    * self-join emits Θ(N²/2^bandBits) candidates — a FIXED `bandBits`
    * is quadratic in the corpus. Grow `bandBits` with the corpus
    * (`bandBits` ≈ log₂N − log₂(target bucket occupancy), raising
    * `planes` = bands × bandBits to match): measured at the 20k-vector
    * sf1 fixture, 4→8 band bits cut 38.0 s → 6.2 s (PLANS.md sf1 spot
    * check, part 2). Wider bands trade recall at a given threshold —
    * re-tune bands × bandBits against the target similarity.
    * [[cosineNearDupPairsSized]] derives the band width from the
    * corpus count — the production entry point; this fixed form is
    * the q38 oracle contract.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, dim: Int, planes: Int = 16,
                         bandBits: Int = 4, seed: Long = 42L): DataFrame = {
    require(planes % bandBits == 0, "bandBits must divide planes")
    val hp = hyperplanes(planes, dim, seed)
    val nBands = planes / bandBits
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val candIds = bandCandidatePairs(v, hp, nBands, bandBits)
    val va = v.select(col("id").as("id_a"), col("v").as("va"))
    val vb = v.select(col("id").as("id_b"), col("v").as("vb"))
    filterOnce(candIds.join(va, Seq("id_a")).join(vb, Seq("id_b")),
        "sim", VectorFunctions.cosine(col("va"), col("vb")),
        _ >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Distinct (id_a < id_b) candidate pairs from one band self-join of
    * (id, band) rows — the pair-pruning stage of [[cosineNearDupPairs]],
    * exposed so sizing specs can assert the candidate count directly
    * (the quantity the Θ(N²/2^bandBits) scale law governs).
    * `v` must carry columns (id, v).
    */
  def bandCandidatePairs(v: DataFrame, hp: Array[Array[Double]],
                         nBands: Int, bandBits: Int): DataFrame = {
    val banded = v
      .withColumn("__sig", planeSignature(col("v"), hp))
      .withColumn("band", explode(bandKeys(col("__sig"), nBands, bandBits)))
      .select(col("id"), col("band"))
    banded.as("x").join(banded.as("y"), Seq("band"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  // ----- self-sizing production entry points (round 7) ---------------
  //
  // The fixed-parameter forms above are the oracle contracts (q21, q31,
  // q38 replay their banding/spacing math in SQL). These overloads are
  // what a deployment should call: they derive the scale-law parameter
  // from the corpus count so the defaults survive a 100× scale-up —
  // bandBits from log₂(N) (constant bucket occupancy), centroidEvery
  // from √N (standard IVF nlist sizing). Each is EXACTLY the fixed
  // form at the derived parameters (differential-spec-proven), so the
  // oracle validation transfers.

  /** [[lshTopK]] with corpus-sized bands: `bandBits` from
    * [[sizedBandBits]], `planes = nBands × bandBits` (recall at a given
    * signature resolution is governed by the band count, which stays
    * fixed as the corpus grows; bucket occupancy stays constant).
    */
  def lshTopKSized(queries: DataFrame, corpus: DataFrame,
                   qidCol: String, idCol: String, vecCol: String,
                   k: Int, dim: Int, nBands: Int = 4,
                   targetBucketSize: Int = 64, seed: Long = 42L,
                   corpusCount: Option[Long] = None): DataFrame = {
    val bb = sizedBandBitsFor(countOf(corpus, idCol, corpusCount),
      nBands, targetBucketSize)
    lshTopK(queries, corpus, qidCol, idCol, vecCol, k, dim,
      planes = nBands * bb, bandBits = bb, seed = seed)
  }

  /** [[cosineNearDupPairs]] with corpus-sized bands (same derivation as
    * [[lshTopKSized]]): candidate volume stays Θ(N × targetBucketSize ×
    * nBands) instead of Θ(N²/2^bandBits).
    */
  def cosineNearDupPairsSized(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, dim: Int, nBands: Int = 4,
                              targetBucketSize: Int = 64, seed: Long = 42L,
                              corpusCount: Option[Long] = None): DataFrame = {
    val bb = sizedBandBitsFor(countOf(df, idCol, corpusCount),
      nBands, targetBucketSize)
    cosineNearDupPairs(df, idCol, vecCol, threshold, dim,
      planes = nBands * bb, bandBits = bb, seed = seed)
  }

  /** [[ivfTopK]] with corpus-sized centroid spacing (nlist ≈ √N):
    * assignment cost Θ(N^1.5), the standard IVF scaling.
    */
  def ivfTopKSized(queries: DataFrame, corpus: DataFrame,
                   qidCol: String, idCol: String, vecCol: String,
                   k: Int, nprobe: Int = 3,
                   corpusCount: Option[Long] = None): DataFrame = {
    val ce = sizedCentroidEvery(countOf(corpus, idCol, corpusCount))
    ivfTopK(queries, corpus, qidCol, idCol, vecCol, k,
      centroidEvery = ce, nprobe = nprobe)
  }

  // ----- cluster-scoped semantic dedup (SemDeDup) --------------------

  /** SemDeDup — cluster-scoped semantic deduplication (Abbas et al.
    * 2023, arXiv:2303.09540, the LAION/C4 curation method): assign
    * every embedding to its nearest coarse centroid (the exact q31
    * argmax — cosine desc, min cent_id tie-break), compare pairs ONLY
    * within a cluster, and drop every row that has a smaller-id
    * cluster-mate with cosine >= `threshold`. The published method
    * keeps one arbitrary member per duplicate group; the keep-LOWEST-ID
    * rule makes the choice deterministic, partitioning-invariant, and
    * oracle-expressible in ANSI SQL.
    *
    * Plan shape (the 100 TB contract): centroids broadcast into a
    * narrow assignment pass; the within-cluster self-join exchanges
    * BARE (id, cent_id) rows — pairs are already distinct (each id has
    * exactly one cluster), so unlike the banded-LSH path no dedup
    * exchange is needed; vectors re-join per candidate pair for ONE
    * exact cosine each; survivors are a left-anti join on removed ids.
    * With `centroidEvery ≈ √N` ([[semDedupSized]]) expected cluster
    * size is √N, so candidate volume is Θ(N^1.5) — the same scale law
    * as IVF assignment and the published SemDeDup cost shape — versus
    * Θ(N²) for the flat pairwise verifier (q22) and a complementary
    * recall profile to the banded-LSH pruner (q38): LSH can miss
    * same-bucket-less near-dups; SemDeDup can miss near-dups straddling
    * a cluster boundary.
    *
    * Centroid convention matches [[ivfTopK]]: rows whose id ≡ 0 (mod
    * `centroidEvery`) act as centroids, so the id domain must contain
    * such multiples. Returns survivors (id, cent_id), one row per kept
    * input row with a non-null-cosine assignment.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, centroidEvery: Int = 32): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cents = v.filter(pmod(col("id"), lit(centroidEvery)) === 0)
      .select(col("id").as("cent_id"), col("v").as("cent_v"))
    // an empty centroid relation would give every row a null
    // assignment and the operator would silently return ZERO
    // survivors — a curation run would drop the whole corpus with no
    // error. Fail loudly instead (sparse / non-contiguous id domains,
    // or a sized spacing larger than any id, land here).
    require(!cents.isEmpty,
      s"semDedup: no ids divisible by centroidEvery=$centroidEvery — " +
        "the id domain violates the id % centroidEvery == 0 centroid " +
        "convention; pass a smaller centroidEvery or densify ids")
    // persisted, owned pin: the assignment is the N×nlist cosine stage
    // and THREE consumers reference it (both pair sides + the final
    // anti-join) — unpinned, Spark rebuilds the whole tower per
    // consumer (plan-audited). Release via [[releaseIntermediates]].
    val assigned = track(
      assignToCentroids(v.select(col("id"), col("v").as("id_v")), "id",
        cents).persist())
    val candIds = assigned.select(col("id").as("id_a"), col("cent_id"))
      .join(assigned.select(col("id").as("id_b"), col("cent_id")),
        Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val va = v.select(col("id").as("id_a"), col("v").as("va"))
    val vb = v.select(col("id").as("id_b"), col("v").as("vb"))
    val removed = filterOnce(
      candIds.join(va, Seq("id_a")).join(vb, Seq("id_b")),
      "sim", VectorFunctions.cosine(col("va"), col("vb")),
      _ >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.join(removed, Seq("id"), "left_anti")
      .select(col("id"), col("cent_id"))
  }

  /** [[semDedup]] with corpus-sized centroid spacing (√N, the same
    * derivation as [[ivfTopKSized]]): expected cluster size √N keeps
    * the within-cluster pair volume at Θ(N^1.5) as the corpus grows —
    * the production entry point.
    */
  def semDedupSized(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double,
                    corpusCount: Option[Long] = None): DataFrame = {
    val ce = sizedCentroidEvery(countOf(df, idCol, corpusCount))
    semDedup(df, idCol, vecCol, threshold, centroidEvery = ce)
  }

  /** Squared L2 distance as a LEFT-TO-RIGHT double fold over the two
    * arrays — the associativity is the cross-engine contract (DuckDB
    * replays it with a sequential list_reduce), so the oracle's argmin
    * comparisons see bit-identical distances.
    */
  private[operators] def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Distributed Lloyd's k-means over an embedding column,
    * DETERMINISTIC and partitioning-invariant — the "train real coarse
    * centroids" upgrade over [[ivfTopK]]'s every-Nth-row sampling
    * (means beat arbitrary corpus rows as inverted-list anchors).
    *
    * Determinism contract (what makes this gateable cross-engine, same
    * kit as q49/q58):
    *  - init = the k smallest-id points (no RNG);
    *  - assignment argmin compares `l2Sq` left-to-right folds, ties
    *    broken by centroid id via a lexicographic struct min;
    *  - the centroid update is the EXACT fixed-point mean
    *    ([[graft.functions.ExactAgg.avgFx]], quantized long partial
    *    sums) — a plain double mean depends on partition merge order,
    *    this never does. Each iteration's centroids are therefore
    *    identical on any cluster size, so the fixpoint trajectory is
    *    reproducible anywhere.
    *
    * Scale shape per iteration: centroids (k × dim quantized doubles)
    * broadcast into a map-side nested loop; the argmin is a groupBy on
    * the point id whose min-struct partials combine map-side (k
    * same-point rows are generated colocated, so the exchange is ~1 row
    * per point); the mean update moves (k × dim) quantized-long cells.
    * Embedding arrays never ride an exchange. `iters` is a fixed budget
    * (IVF training runs 3-10 rounds, not to convergence).
    *
    * Returns per-cell rows (cid, pos, n, mean) — n = cluster size
    * (repeated per pos), mean = the quantized coordinate. Empty
    * clusters simply vanish from the output (no rows assigned).
    */
  def kmeansFit(points: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int, scale: Long = 1000000L): DataFrame =
    lloyd(points, idCol, vecCol, k, iters, scale)._1
      .orderBy(col("cid"), col("pos"))

  /** Final trained centroids in list form, (cent_id, cent_v) — the
    * relation [[ivfTopKKmeans]] broadcasts. Same loop, same
    * determinism contract as [[kmeansFit]].
    */
  def kmeansCentroids(points: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int,
                      scale: Long = 1000000L): DataFrame =
    lloyd(points, idCol, vecCol, k, iters, scale)._2
      .select(col("cid").as("cent_id"), col("__cv").as("cent_v"))

  private def lloyd(points: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int,
                    scale: Long): (DataFrame, DataFrame) = {
    val (cells, cents) = lloydGrouped(
      points.select(lit(0).as("__g"), col(idCol).as("__pid"),
        col(vecCol).cast("array<double>").as("__pv")),
      k, iters, scale, singleGroup = true)
    (cells.select(col("cid"), col("pos"), col("n"), col("mean")),
      cents.select(col("cid"), col("__cv")))
  }

  /** GROUPED Lloyd's loop — `iters` rounds over a (__g, __pid, __pv)
    * frame training one INDEPENDENT k-means per group value, all
    * groups in the same pass. Groups never interact (per-group argmin,
    * per-group exact means), so each group's trajectory is bit-equal
    * to a standalone `lloyd` run on its slice — but [[pqTrain]]'s m
    * sub-block codebooks now cost iters driver round-trips instead of
    * m×iters, the win that motivated the grouping (round 14; a PQ
    * train at m=8 ran 8 sequential single-block loops).
    *
    * Per-iteration scale shape: pts is hash-partitioned by __pid ONCE
    * and persisted; the centroid relation (Σ_g k_g × dim quantized
    * doubles) broadcasts into the per-group candidate join; the argmin
    * is a (__pid, __g)-keyed min-struct aggregate whose partials
    * combine map-side (candidates are generated colocated) so the
    * exchange carries ~1 narrow row per (point, group); the mean pass
    * joins assignments BACK to the pid-partitioned pts (vectors never
    * ride an exchange) and moves only (group × k × dim) quantized-long
    * cells. Centroids live driver-side between rounds — each round's
    * plan starts from a local relation instead of an ever-deeper
    * lineage. Collected doubles round-trip exactly; trajectories are
    * partitioning-invariant (ExactAgg fixed-point partial sums).
    */
  private def lloydGrouped(points: DataFrame, k: Int, iters: Int,
                           scale: Long,
                           singleGroup: Boolean = false)
      : (DataFrame, DataFrame) = {
    require(k >= 1, s"k >= 1, got $k")
    require(iters >= 1, s"iters >= 1, got $iters")
    import graft.functions.ExactAgg
    val spark = points.sparkSession
    import spark.implicits._
    val pts = points
      .repartition(spark.sparkContext.defaultParallelism, col("__pid"))
      .persist()
    try {
      // deterministic seed: the k smallest ids (same rule per group —
      // every group covers the same id set by construction), centroid
      // id = rank within group. Single-group callers take the direct
      // TakeOrdered (one job); the grouped path needs the id set once
      // (exchange-free distinct on the pid partitioning) and a
      // broadcast semi-join — never an isin literal list, k reaches
      // √N at IVF sizing and a 10⁴-literal predicate is plan bloat
      val seedRows: Seq[(Int, Long, Seq[Double])] =
        if (singleGroup)
          pts.select(col("__g"), col("__pid"), col("__pv"))
            .orderBy(col("__pid")).limit(k)
            .as[(Int, Long, Seq[Double])].collect().toSeq
        else {
          val seedIds = pts.select(col("__pid")).distinct()
            .orderBy(col("__pid")).limit(k).as[Long].collect().toSeq
          pts.join(broadcast(seedIds.toDF("__pid")), Seq("__pid"),
              "left_semi")
            .select(col("__g"), col("__pid"), col("__pv"))
            .as[(Int, Long, Seq[Double])].collect().toSeq
        }
      var centsLocal: Seq[(Int, Long, Seq[Double])] =
        seedRows
          .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
            rows.sortBy(_._2).zipWithIndex
              .map { case ((_, _, v), i) => (g, i.toLong, v) }
          }
      var cellsLocal: Seq[(Int, Long, Long, Long, Double)] = null
      for (_ <- 1 to iters) {
        val cents = centsLocal.toDF("__g", "cid", "__cv")
        // the vector rides THROUGH the argmin aggregate (every
        // candidate row of one (point, group) key carries the same
        // __pv, so first() is value-deterministic) — no join-back, and
        // since pts is pid-partitioned the aggregate is exchange-free:
        // the iteration's only exchange is the (group × k × dim) mean
        // cells
        val assigned = pts.join(broadcast(cents), Seq("__g"))
          .withColumn("__d", l2Sq(col("__pv"), col("__cv")))
          .groupBy(col("__pid"), col("__g"))
          .agg(min(struct(col("__d"), col("cid"))).as("__m"),
            first(col("__pv")).as("__pv"))
        cellsLocal = assigned
          .select(col("__g"), col("__m.cid").as("cid"),
            posexplode(col("__pv")).as(Seq("pos", "val")))
          .groupBy(col("__g"), col("cid"),
            col("pos").cast("long").as("pos"))
          .agg(count(lit(1)).as("n"),
            ExactAgg.avgFx(col("val"), scale).as("mean"))
          .as[(Int, Long, Long, Long, Double)].collect().toSeq
        centsLocal = cellsLocal.groupBy(c => (c._1, c._2)).toSeq
          .map { case ((g, cid), cs) =>
            (g, cid, cs.sortBy(_._3).map(_._5))
          }.sortBy(c => (c._1, c._2))
      }
      val cells = cellsLocal.sortBy(c => (c._1, c._2, c._3))
        .toDF("__g", "cid", "pos", "n", "mean")
      val cents = centsLocal.toDF("__g", "cid", "__cv")
      (cells, cents)
    } finally pts.unpersist(blocking = false)
  }

  // ----- product quantization (Jégou, Douze & Schmid 2011) -----------

  /** Per-sub-block slices of a vector column as (sub, sv) structs —
    * the ONE slicing convention [[pqTrain]]/[[pqEncode]]/[[pqTopK]]
    * share: sub j covers 1-based positions j·w+1 … (j+1)·w, w = dim/m.
    */
  private def subSlices(vec: Column, dim: Int, m: Int): Column = {
    val w = dim / m
    array((0 until m).map(j => struct(lit(j).as("sub"),
      slice(vec.cast("array<double>"), j * w + 1, w).as("sv"))): _*)
  }

  /** Train a product-quantization codebook ("Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011 — the standard billion-vector
    * compression behind IVF-PQ): split `dim` into `m` sub-blocks and
    * run the DETERMINISTIC Lloyd's loop ([[kmeansCentroids]], same
    * smallest-id init / left-to-right folds / exact fixed-point means)
    * independently per block, `ksub` centroids each. The codebook is
    * m·ksub·(dim/m) doubles — kilobytes at any corpus size — and every
    * downstream stage broadcasts it. Training cost is m small k-means
    * runs; at 100 TB train on a [[Sampling.hashSample]] of the corpus
    * (PQ codebooks need ~10⁵-10⁶ points, not the corpus).
    * Returns (sub, cid, cv).
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m must divide dim: $m, $dim")
    require(ksub >= 1, s"ksub >= 1, got $ksub")
    // ONE grouped Lloyd's loop over all m sub-blocks (group = sub):
    // blocks are independent, so per-block codebooks are bit-equal to
    // the former m sequential single-block loops — at iters driver
    // round-trips total instead of m×iters
    val sliced = corpus.select(col(idCol).as("__pid"),
        explode(subSlices(col(vecCol), dim, m)).as("__s"))
      .select(col("__s.sub").as("__g"), col("__pid"),
        col("__s.sv").cast("array<double>").as("__pv"))
    lloydGrouped(sliced, ksub, iters, 1000000L)._2
      .select(col("__g").as("sub"), col("cid"), col("__cv").as("cv"))
  }

  /** Encode every vector as m sub-block centroid ids — the ~(dim·4 →
    * m)-byte compressed representation that makes exhaustive ADC scans
    * affordable. codes[j] = argmin over the block-j codebook of the
    * left-to-right l2Sq fold, cid tie-break (the `lloyd` argmin
    * contract, so encoding is partitioning-invariant and
    * oracle-replayable). The codebook broadcasts; the argmin groupBy
    * combines map-side (the m per-row slices are generated colocated),
    * so the exchange carries one (id, sub, cid) row per block — never
    * a vector. Returns (id, codes) with codes ordered by sub.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               dim: Int, m: Int, codebook: DataFrame): DataFrame =
    corpus
      // NULL vectors cannot encode: their sub-distances are NULL and a
      // struct-min would rank NULL first — drop them, the
      // assignToCentroids quarantine convention
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(subSlices(col(vecCol), dim, m)).as("s"))
      .select(col("id"), col("s.sub").as("sub"), col("s.sv").as("sv"))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("__d", l2Sq(col("sv"), col("cv")))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("__d"), col("cid"))).as("__m"))
      .groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("__m.cid")
          .as("cid")))), s => s("cid")).as("codes"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes
    * its m×ksub table of exact sub-block distances to the codebook
    * (kilobytes), the tables broadcast as maps keyed sub·ksub+cid
    * (a MAP, not a positional array — empty clusters may gap the cid
    * domain), and every doc's approximate distance is the
    * LEFT-TO-RIGHT fold Σⱼ dtab[codes[j]] — one narrow pass over the
    * codes relation, no vector ever leaves its partition, then the
    * (qid, dist, id) top-k window (WindowGroupLimit prunes to k rows
    * per partition before the exchange). Σ of exact doubles in fixed j
    * order ⇒ bit-identical cross-engine, so ranking never drifts.
    * Output: (qid, id, dist, rk), rk 1-based by (dist asc, id).
    */
  def pqTopK(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
             qidCol: String, vecCol: String, dim: Int, m: Int, ksub: Int,
             k: Int): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val dtab = pqDistTables(queries, qidCol, vecCol, dim, m, ksub,
      codebook)
    val scored = codes.crossJoin(broadcast(dtab))
      .withColumn("dist", adcScore(col("dtab"), col("codes"), ksub))
    pqRank(scored, k)
  }

  /** Per-query ADC distance tables as (qid, dtab): dtab maps
    * sub·ksub+cid → the exact sub-block l2Sq of the query against that
    * codeword. m·ksub doubles per query — kilobytes — always broadcast.
    */
  private[operators] def pqDistTables(queries: DataFrame, qidCol: String,
                           vecCol: String, dim: Int, m: Int, ksub: Int,
                           codebook: DataFrame): DataFrame =
    queries
      .filter(col(vecCol).isNotNull) // NULL queries drop, like pqEncode
      .select(col(qidCol).as("qid"),
        explode(subSlices(col(vecCol), dim, m)).as("s"))
      .select(col("qid"), col("s.sub").as("sub"), col("s.sv").as("qv"))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("__d", l2Sq(col("qv"), col("cv")))
      .groupBy(col("qid"))
      .agg(map_from_entries(collect_list(struct(
        (col("sub") * ksub + col("cid")).cast("long").as("slot"),
        col("__d").as("d")))).as("dtab"))

  /** Σⱼ dtab[j·ksub+codesⱼ] as a fixed-order left-to-right fold. */
  private[operators] def adcScore(dtab: Column, codes: Column, ksub: Int): Column =
    aggregate(
      transform(codes, (c, j) =>
        element_at(dtab, (j.cast("long") * ksub + c))),
      lit(0.0), (acc, v) => acc + v)

  private[operators] def pqRank(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wspec = Window.partitionBy(col("qid"))
      .orderBy(col("dist"), col("id"))
    scored.select(col("qid"), col("id"), col("dist"))
      .withColumn("rk", row_number().over(wspec).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Full IVF-PQ (the FAISS `IVFx,PQy` serving shape): coarse k-means
    * cells route each query to its `nprobe` nearest lists, and ADC
    * scoring runs ONLY over the codes in probed cells — corpus work
    * per query drops from N to ≈ N·nprobe/kCoarse code folds, on top
    * of PQ's m-bytes-per-vector memory. Routing reuses the gated IVF
    * machinery (cosine assignment, max_by argmax, TopK probes);
    * scoring reuses [[pqEncode]]/`adcScore` (codes on RAW vectors,
    * not residuals — documented simplification; residual PQ needs a
    * second codebook pass). Everything that moves is bare ids, codes,
    * and broadcast kilobyte tables. Exact differential contract (the
    * spec): results equal [[pqTopK]] restricted to the probed cells.
    * Output: (qid, id, dist, rk).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                qidCol: String, idCol: String, vecCol: String,
                dim: Int, m: Int, ksub: Int, k: Int,
                kCoarse: Int, nprobe: Int = 3,
                coarseIters: Int = 2, pqIters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, kCoarse,
      coarseIters)
    val cv = corpus.select(col(idCol).as("nid"), col(vecCol).as("nid_v"))
    val qv = queries.select(col(qidCol).as("qid"), col(vecCol).as("qid_v"))
    val assigned = assignToCentroids(cv, "nid", cents)
      .select(col("nid").as("id"), col("cent_id"))
    val probes = TopK.perGroup(centroidScores(qv, "qid", cents),
      Seq(col("qid")), Seq(col("csim").desc, col("cent_id")), nprobe)
      .select(col("qid"), col("cent_id"))
    val cb = pqTrain(corpus, idCol, vecCol, dim, m, ksub, pqIters)
    val codes = pqEncode(corpus, idCol, vecCol, dim, m, cb)
    val dtab = pqDistTables(queries, qidCol, vecCol, dim, m, ksub, cb)
    val scored = codes.join(assigned, Seq("id"))
      .join(broadcast(probes.join(dtab, Seq("qid"))), Seq("cent_id"))
      .withColumn("dist", adcScore(col("dtab"), col("codes"), ksub))
    pqRank(scored, k)
  }

  /** [[ivfPqTopK]] with corpus-sized coarse lists (kCoarse = ⌈√N⌉,
    * [[sizedKCoarse]]) — the production entry point: per-query ADC
    * work is ≈ N·nprobe/√N = nprobe·√N code folds, and coarse
    * assignment is Θ(N^1.5), the standard IVF scaling. The fixed-k
    * form is the q101/q102 oracle contract.
    */
  def ivfPqTopKSized(queries: DataFrame, corpus: DataFrame,
                     qidCol: String, idCol: String, vecCol: String,
                     dim: Int, m: Int, ksub: Int, k: Int,
                     nprobe: Int = 3, coarseIters: Int = 2,
                     pqIters: Int = 2,
                     corpusCount: Option[Long] = None): DataFrame =
    ivfPqTopK(queries, corpus, qidCol, idCol, vecCol, dim, m, ksub, k,
      kCoarse = sizedKCoarse(countOf(corpus, idCol, corpusCount)),
      nprobe = nprobe, coarseIters = coarseIters, pqIters = pqIters)

  /** [[ivfPqTopKResidual]] with corpus-sized coarse lists
    * (kCoarse = ⌈√N⌉, [[sizedKCoarse]]) — the production entry point
    * for the residual form, same law as [[ivfPqTopKSized]].
    */
  def ivfPqTopKResidualSized(queries: DataFrame, corpus: DataFrame,
                             qidCol: String, idCol: String,
                             vecCol: String, dim: Int, m: Int,
                             ksub: Int, k: Int, nprobe: Int = 3,
                             coarseIters: Int = 2, pqIters: Int = 2,
                             corpusCount: Option[Long] = None): DataFrame =
    ivfPqTopKResidual(queries, corpus, qidCol, idCol, vecCol, dim, m,
      ksub, k,
      kCoarse = sizedKCoarse(countOf(corpus, idCol, corpusCount)),
      nprobe = nprobe, coarseIters = coarseIters, pqIters = pqIters)

  /** MMR — maximal marginal relevance (Carbonell & Goldstein 1998):
    * greedily select `k` of a query's candidates maximizing
    * λ·rel − (1−λ)·max(sim to already-selected) — the diversity-aware
    * selection step after any retrieval (and the classic
    * diverse-exemplar picker for training-data curation). The
    * candidate set per query is BOUNDED by contract (a retrieval
    * top-N) and ENFORCED by `maxPool` (a cheap per-qid count
    * pre-aggregate throws, naming offending qids, before the pool²
    * join runs), so the only unbounded work — the candidate×candidate
    * cosines — is a per-query N² of gated `graft_cosine` rows, and
    * the greedy loop runs in typed `flatMapGroups` over one group's
    * bounded rows (the container-decoder mapPartitions precedent;
    * selection is inherently sequential). Deterministic: cosines are
    * the gated kernel, JVM float arithmetic never fuses, max is
    * order-free, ties break by smallest id (strict-> over ascending
    * ids). At λ=1/2 the score is an EXACT power-of-two scaling of
    * rel − maxSim, which is why the q105 oracle can replay it
    * bit-for-bit (the q90 FMA lesson: a general λ·a − (1−λ)·b double
    * shape is contractable by DuckDB, a bare subtraction is not).
    * NULL rel/sim rows (zero vectors) are quarantined, the family
    * convention. Ids must be long. Output: (qid, id, rk, score).
    */
  def mmrSelect(cands: DataFrame, qidCol: String, idCol: String,
                vecCol: String, relCol: String, lambda: Double,
                k: Int, maxPool: Int = 1024): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    require(k >= 1, s"k >= 1, got $k")
    require(maxPool >= 1, s"maxPool >= 1, got $maxPool")
    val spark = cands.sparkSession
    import spark.implicits._
    val c = cands.select(col(qidCol).cast("long").as("qid"),
      col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      col(relCol).cast("double").as("rel"))
    // the bounded-retrieval-pool contract, ENFORCED: the self-join
    // below builds pool² sim rows per query and flatMapGroups holds a
    // pool²-entry map in one executor's memory — an unbounded pool is
    // a silent quadratic and an OOM, so oversize pools fail loudly
    // (naming offenders) before any pair is built. One cheap count
    // pre-aggregate, grouped exchange bounded by |queries|.
    val over = c.groupBy(col("qid")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxPool)
      .orderBy(col("qid")).limit(10)
      .as[(Long, Long)].collect()
    require(over.isEmpty,
      s"mmrSelect: candidate pool exceeds maxPool=$maxPool for qids " +
        over.map { case (q, n) => s"$q($n)" }.mkString(", ") +
        " — MMR is quadratic in the pool; pass a bounded retrieval " +
        "top-N (or raise maxPool deliberately)")
    val a = c.select(col("qid"), col("id").as("a"),
      col("rel").as("arel"), col("v").as("av"))
    val b = c.select(col("qid"), col("id").as("b"), col("v").as("bv"))
    val pairs = filterOnce(a.join(b, Seq("qid")),
      "sim", VectorFunctions.cosine(col("av"), col("bv")), _.isNotNull)
      .filter(col("arel").isNotNull)
      .select(col("qid"), col("a"), col("arel"), col("b"), col("sim"))
      .as[(Long, Long, Double, Long, Double)]
    pairs.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val rel = scala.collection.mutable.Map.empty[Long, Double]
      val sim = scala.collection.mutable.Map.empty[(Long, Long), Double]
      it.foreach { r => rel(r._2) = r._3; sim((r._2, r._4)) = r._5 }
      val remaining = scala.collection.mutable.SortedSet(rel.keys.toSeq: _*)
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Double)]
      var t = 1
      while (t <= k && remaining.nonEmpty) {
        var bestId = -1L
        var bestG = Double.NegativeInfinity
        for (cid <- remaining) { // ascending: strict > keeps min id on ties
          val ms =
            if (selected.isEmpty) 0.0
            else selected.iterator.map(s => sim((cid, s))).max
          val g = lambda * rel(cid) - (1.0 - lambda) * ms
          if (g > bestG) { bestG = g; bestId = cid }
        }
        selected += bestId
        remaining -= bestId
        out += ((qid, bestId, t.toLong, bestG))
        t += 1
      }
      out.iterator
    }.toDF("qid", "id", "rk", "score")
  }

  /** Sign bit per DIMENSION packed into one long (dim ≤ 64) — binary
    * quantization, as opposed to [[planeSignature]]'s random
    * hyperplanes. Bit 63 is Long.MinValue directly: `1L << 63` as an
    * additive term would overflow, and the oracle mirrors the same
    * special case (DuckDB errors on `1 << 63`).
    */
  private def signBits(vec: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, s"dim in [1,64] for one long, got $dim")
    (0 until dim).map { i =>
      val bit = if (i == 63) Long.MinValue else 1L << i
      when(element_at(vec, i + 1) > 0, lit(bit)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** Binary-quantization retrieval: 64× memory cut (one long per
    * vector), Hamming-distance prescreen via xor+popcount — pure
    * integer column algebra, fully codegen — then EXACT cosine rerank
    * of the top-`rerank` candidates per query (the modern
    * binary-embedding serving pattern: store bits + a small float
    * cache for rerank). Shuffle contract matches the other ANN paths:
    * signatures are one long per row, the query batch broadcasts, the
    * Hamming top-`rerank` is a WindowGroupLimit window over
    * (qid, ham, nid), and vectors re-join only for the ≤ rerank
    * finalists. Deterministic end to end: Hamming is integer, ties
    * break by nid, and the rerank reuses `rankCandidates`'s gated
    * cosine. Output: (qid, nid, sim, rk).
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame,
                 qidCol: String, idCol: String, vecCol: String,
                 dim: Int, k: Int, rerank: Int): DataFrame = {
    require(k >= 1 && rerank >= k,
      s"need rerank >= k >= 1, got k=$k rerank=$rerank")
    // NULL-vector quarantine (the pqEncode/pqDistTables convention):
    // unfiltered, a NULL vector signs to 0 (every when(null > 0)
    // falls to otherwise), competes in the Hamming prescreen, can
    // occupy rerank slots displacing real candidates, then vanishes
    // at the cosine rerank — shrinking effective recall silently.
    val cv = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("nid"), col(vecCol).as("nid_v"))
    val qv = queries.filter(col(vecCol).isNotNull)
      .select(col(qidCol).as("qid"), col(vecCol).as("qid_v"))
    val csig = cv.select(col("nid"),
      signBits(col("nid_v").cast("array<double>"), dim).as("nsig"))
    val qsig = qv.select(col("qid"),
      signBits(col("qid_v").cast("array<double>"), dim).as("qsig"))
    val ham = csig.crossJoin(broadcast(qsig))
      .select(col("qid"), col("nid"),
        bit_count(col("nsig").bitwiseXOR(col("qsig"))).as("ham"))
    val candIds = TopK.perGroup(ham, Seq(col("qid")),
      Seq(col("ham"), col("nid")), rerank)
      .select(col("qid"), col("nid"))
    rankCandidates(candIds, cv, qv, k)
  }

  /** Matryoshka (truncated-dimension) retrieval — the MRL serving
    * pattern (Kusupati et al. 2022, "Matryoshka Representation
    * Learning"): prescreen on the FIRST `dimPrefix` dimensions (MRL
    * embeddings front-load information, so a short prefix preserves
    * neighborhood structure at dimPrefix/dim of the compute and
    * bandwidth), then rerank the top-`rerank` candidates with
    * full-dimension exact cosine. Completes the prescreen-rerank
    * family: [[binaryTopK]] (1 bit/dim), [[pqTopK]] (m codes),
    * this (prefix dims) — all sharing `rankCandidates`'s gated
    * exact tail. Both stages are the gated cosine algebra, so the
    * whole path is oracle-replayable. Output: (qid, nid, sim, rk).
    */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame,
                     qidCol: String, idCol: String, vecCol: String,
                     dimPrefix: Int, k: Int, rerank: Int): DataFrame = {
    require(dimPrefix >= 1, s"dimPrefix >= 1, got $dimPrefix")
    require(k >= 1 && rerank >= k,
      s"need rerank >= k >= 1, got k=$k rerank=$rerank")
    val cv = corpus.select(col(idCol).as("nid"), col(vecCol).as("nid_v"))
    val qv = queries.select(col(qidCol).as("qid"), col(vecCol).as("qid_v"))
    def pre(v: Column): Column =
      slice(v.cast("array<double>"), 1, dimPrefix)
    // zero-norm PREFIXES (null cosine) rank LAST (-2 < any real cosine)
    // instead of being filtered: a vector whose information lives past
    // the prefix must stay reachable, or rerank=N would not degenerate
    // to brute force (the spec contract)
    val scored = cv.select(col("nid"), pre(col("nid_v")).as("np"))
      .crossJoin(broadcast(
        qv.select(col("qid"), pre(col("qid_v")).as("qp"))))
      .withColumn("psim",
        coalesce(VectorFunctions.cosine(col("qp"), col("np")), lit(-2.0)))
      .select(col("qid"), col("nid"), col("psim"))
    val candIds = TopK.perGroup(scored, Seq(col("qid")),
      Seq(col("psim").desc, col("nid")), rerank)
      .select(col("qid"), col("nid"))
    rankCandidates(candIds, cv, qv, k)
  }

  /** RESIDUAL IVF-PQ — the published form (Jégou et al. 2011 §IV.B,
    * what FAISS `IVFx,PQy` actually encodes): PQ codebooks are trained
    * on and codes encode the RESIDUAL vector r = v − centroid(cell),
    * which has far less energy than v itself, so the same m×ksub
    * budget quantizes much finer near the cell. The price is one
    * distance table PER (query, probed cell) — still nprobe·m·ksub
    * doubles per query, broadcast — instead of one per query. Exact
    * double subtraction keeps every stage deterministic and
    * partitioning-invariant (spec: driver-side replay equality).
    * Output: (qid, id, dist, rk) like [[ivfPqTopK]].
    */
  def ivfPqTopKResidual(queries: DataFrame, corpus: DataFrame,
                        qidCol: String, idCol: String, vecCol: String,
                        dim: Int, m: Int, ksub: Int, k: Int,
                        kCoarse: Int, nprobe: Int = 3,
                        coarseIters: Int = 2,
                        pqIters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, kCoarse,
      coarseIters)
    val cv = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nid_v"))
    val qv = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast("array<double>").as("qid_v"))
    val assigned = assignToCentroids(
      corpus.select(col(idCol).as("nid"), col(vecCol).as("nid_v")),
      "nid", cents)
    // per-doc residual: exact double v − centroid, a narrow broadcast
    // projection (cent_v is the tiny trained relation)
    val resDocs = cv.join(assigned, Seq("nid"))
      .join(broadcast(cents), Seq("cent_id"))
      .select(col("nid"), col("cent_id"),
        zip_with(col("nid_v"), col("cent_v"), (a, b) => a - b).as("res"))
    val cb = pqTrain(resDocs, "nid", "res", dim, m, ksub, pqIters)
    val codes = pqEncode(resDocs, "nid", "res", dim, m, cb)
    val probes = TopK.perGroup(centroidScores(qv, "qid", cents),
      Seq(col("qid")), Seq(col("csim").desc, col("cent_id")), nprobe)
      .select(col("qid"), col("cent_id"))
    // one distance table per (query, probed cell): key pqDistTables by
    // the composite struct, then flatten it back out
    val qres = probes.join(qv, Seq("qid")).join(broadcast(cents),
        Seq("cent_id"))
      .select(struct(col("qid"), col("cent_id")).as("qid"),
        zip_with(col("qid_v"), col("cent_v"), (a, b) => a - b).as("qres"))
    val dtab = pqDistTables(qres, "qid", "qres", dim, m, ksub, cb)
      .select(col("qid.qid").as("qid"), col("qid.cent_id").as("cent_id"),
        col("dtab"))
    val scored = codes
      .join(assigned.select(col("nid").as("id"), col("cent_id")),
        Seq("id"))
      .join(broadcast(dtab), Seq("cent_id"))
      .withColumn("dist", adcScore(col("dtab"), col("codes"), ksub))
    pqRank(scored, k)
  }
}
