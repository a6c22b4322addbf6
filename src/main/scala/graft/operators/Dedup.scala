package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Document deduplication at pretraining-corpus scale (north-star
  * operators; the reference's only dedup is key-based upsert, SURVEY.md
  * §2.6 O4 — these generalize it to fuzzy text dedup).
  *
  * Scale design: every method is (a) a narrow per-row signature
  * projection (codegen'd column algebra, no UDF, no shuffle), then (b)
  * ONE shuffle on a bucket key to find candidates, then (c) exact
  * verification within candidates only. Nothing is O(n²) in the corpus;
  * the only quadratic term is within-bucket, bounded by band width.
  */
object Dedup {

  // Pair generation pins intermediate frames (band/index frames feed
  // both sides of their self-joins; the component labeling is returned
  // cached). [[releaseIntermediates]] is the owned release path — a
  // long-lived session calls it once the pairs are materialized (or
  // abandoned) instead of reaching for a session-wide cache clear.
  // The registry is PROCESS-GLOBAL: it assumes one dedup pipeline per
  // JVM at a time (the batch-engine norm). Concurrent Dedup runs are
  // still CORRECT — an early release by the other run only forces a
  // recompute from source — but callers interleaving independent runs
  // should release once, after both finish.
  private val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private def track(df: DataFrame): DataFrame = synchronized {
    pinned += df; df
  }
  // checkpoint pins from Loops.truncate enroll HERE too (release
  // closures, since checkpoint blocks aren't Dataset.unpersist-able) —
  // Dedup.releaseIntermediates stays the one owned release path for
  // everything a Dedup run pinned
  private val pinnedReleases =
    scala.collection.mutable.ListBuffer.empty[() => Unit]
  private def trackRelease(f: () => Unit): () => Unit = synchronized {
    pinnedReleases += f; f
  }
  // one-line enrollment in the engine-wide release point
  graft.Engine.register("Dedup")(() => releaseIntermediates())
  // loop rounds unpersist their predecessor inline: drop it from the
  // registry too, so a long CC run holds live pins only, not one dead
  // DataFrame/plan reference per round
  private def release(df: DataFrame): Unit = synchronized {
    df.unpersist(blocking = false)
    pinned.filterInPlace(_ ne df)
  }

  /** Unpersist every intermediate frame the Dedup operators have pinned
    * so far (session-wide, like a cache clear, but scoped to this
    * object's pins). Returned pair/label frames stay VALID — evaluated
    * again they recompute from source (persisted pins) or fail loudly
    * (checkpointed label frames — re-run the labeling) — so call this
    * once downstream results are materialized, or when abandoning a run.
    */
  def releaseIntermediates(): Unit = synchronized {
    pinned.foreach(_.unpersist(blocking = false))
    pinned.clear()
    pinnedReleases.foreach(f => f())
    pinnedReleases.clear()
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup survivor set: min id per normalized-text fingerprint.
    * One shuffle (groupBy md5). At 100 TB the map-side partial min makes
    * the exchange carry only distinct fingerprints.
    */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact-duplicate CLUSTER-SIZE histogram — the distribution view
    * of [[exactSurvivors]]: for each cluster size s (rows sharing a
    * normalized fingerprint), how many clusters and how many rows
    * they hold. The shape is the triage signal the per-source rate
    * ([[graft.operators.Profile.dupRateBy]]) flattens away: a fat
    * tail (one 10⁴-row cluster) means a template/mirror feed; many
    * 2-clusters mean organic near-misses. Returns
    * (cluster_size, n_clusters, n_docs).
    *
    * Scale: two map-side-combined aggregates — fingerprint (corpus
    * exchange, the [[exactSurvivors]] one) then size (|distinct
    * sizes| rows, trivially bounded). Nothing else moves.
    */
  def clusterSizeHistogram(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("__sz").cast("long").as("cluster_size"),
        col("n_clusters").cast("long").as("n_clusters"),
        (col("__sz") * col("n_clusters")).cast("long").as("n_docs"))

  /** CONTENT-DEFINED CHUNK dedup at word granularity — the
    * storage-dedup shape (Muthitacharoen et al. 2001 LBFS; FastCDC's
    * gear-hash boundary rule) applied to corpus text: chunk boundaries
    * fall where a hash of the LOCAL 2-word window clears a divisor
    * test, so an insertion or deletion re-chunks only its
    * neighborhood — unlike fixed-width shingles, identical passages
    * re-align immediately and dedup even when documents shift around
    * them. Per document: number of chunks, words inside chunks whose
    * fingerprint occurs more than once CORPUS-WIDE, and the duplicate
    * fraction in ppm (exact integer division).
    *
    * Determinism: boundaries and fingerprints ride the md5 kit
    * ([[graft.operators.Sampling.hashBucket]]'s conv-of-md5 form ⇄ the
    * oracle's STRPOS hex parse) — no wrapping-overflow arithmetic, so
    * no native kernel is needed. Chunk text rebuilds through the
    * sorted-collect pattern (array_sort over (pos, word) structs ⇄
    * `STRING_AGG(w, ' ' ORDER BY pos)`).
    *
    * Scale shape: per-doc windows partition by doc_id (never global);
    * ONE chunk-fingerprint count exchange (chunk-table scale, ~n_words
    * / divisor rows) + one fp join back; everything else is narrow.
    * `divisor` sets the expected chunk length in words.
    */
  def cdcChunkStats(df: DataFrame, idCol: String, textCol: String,
                    divisor: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(divisor >= 2, s"divisor >= 2, got $divisor")
    val wp = df.repartition(graft.Par.n, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol)))
          .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gear = call_function("graft_md5_prefix",
      concat_ws(" ", lag(col("w"), 1).over(byDoc), col("w")), lit(8))
    val bounded = wp.withColumn("__b",
      when(row_number().over(byDoc) === 1, 1L)
        .when(gear % divisor === 0, 1L).otherwise(0L))
    val ch = bounded.withColumn("__cid",
      sum(col("__b")).over(byDoc.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
    // the chunk frame feeds BOTH the corpus-wide fingerprint count and
    // the join back — unpinned, the per-doc window chain above ran
    // twice per action; checkpointed it runs once (release enrolled in
    // the Dedup registry, freed by releaseIntermediates/clearCaches)
    val (chunks, relChunks) = Loops.truncate(
      ch.groupBy(col("doc_id"), col("__cid"))
        .agg(md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")), " ")).as("fp"),
          count(lit(1)).as("len")))
    trackRelease(relChunks)
    val cnt = chunks.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
    val agg = chunks.join(cnt, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("len")).as("n_words"),
        count(lit(1)).as("n_chunks"),
        coalesce(sum(when(col("__n") > 1, col("len"))), lit(0L))
          .as("dup_words"))
    // every input doc reports — token-less docs as zeros (one id-keyed
    // left join of doc-scale aggregates)
    df.select(col(idCol).as("doc_id")).distinct()
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        when(coalesce(col("n_words"), lit(0L)) > 0,
          expr("(1000000 * dup_words) div n_words"))
          .otherwise(lit(0L)).as("dup_ppm"))
  }

  /** [[newAgainstCorpus]]'s bloom-screen construction: fold the
    * corpus fingerprints into a mergeable bloom, return the
    * `might_contain` predicate over `textCol`'s fingerprint. None =
    * empty corpus (nothing can be a dup).
    */
  private def corpusBloomScreen(corpus: DataFrame, textCol: String,
                                estItems: Long): Option[Column] = {
    require(estItems > 0, s"estItems > 0, got $estItems")
    val fp = TextFunctions.fingerprint(col(textCol))
    val bloomBytes = corpus
      .select(xxhash64(fp).as("h"))
      .agg(call_function("graft_bloom_agg", col("h"), lit(estItems))
        .as("bloom"))
      .head().getAs[Array[Byte]](0)
    // empty corpus -> aggregate yields null
    if (bloomBytes == null) None
    else Some(call_function("graft_bloom_contains", lit(bloomBytes),
      xxhash64(fp)))
  }

  /** EXACT incremental dedup of an ingest batch against a standing
    * corpus: batch rows whose content fingerprint already exists in the
    * corpus are dropped; everything else passes. The result is exact
    * (equivalent to an anti-join on the fingerprint) but the plan never
    * shuffles the corpus:
    *
    *  1. ONE corpus scan folds all fingerprints into a bloom filter
    *     (Spark's own mergeable [[org.apache.spark.sql.catalyst
    *     .expressions.aggregate.BloomFilterAggregate]], the engine the
    *     runtime bloom-join rewrite uses) — partials are fixed-size
    *     bitmaps, merged through one final OR; the finished filter is
    *     `numBits/8` bytes on the driver, independent of corpus size.
    *  2. The batch filters map-side through `might_contain` — rows the
    *     bloom rejects are DEFINITELY new (no false negatives) and pass
    *     without touching the corpus again.
    *  3. Only bloom-positive batch fingerprints (true dups + ~fpp of
    *     the batch) are broadcast back for one exact confirming
    *     semi-scan of the corpus — again no corpus shuffle — and the
    *     confirmed set anti-filters the batch.
    *
    * Two corpus scans, zero corpus exchanges, and the only data moved
    * is the bloom bitmap plus the bloom-positive key set. The plain
    * `batch.join(corpus, anti)` alternative shuffles EVERY corpus
    * fingerprint at 100 TB. Callers persist an expensive corpus plan
    * (same contract as [[graft.operators.Sampling.temperatureMix]]).
    *
    * `estItems` sizes the filter (Spark defaults the bit budget to
    * ~7.2 bits/item at this ctor, ~3% fpp); a bad estimate only
    * degrades the prefilter rate, never correctness.
    */
  def newAgainstCorpus(corpus: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       estItems: Long = 1000000L): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val mightContain = corpusBloomScreen(corpus, textCol, estItems) match {
      case None => return batch // empty corpus: everything is new
      case Some(mc) => mc
    }
    val positives = batch.filter(mightContain)
      .select(fp.as("__fp")).distinct()
    val confirmed = corpus.select(fp.as("__fp"))
      .join(broadcast(positives), Seq("__fp"), "left_semi").distinct()
    batch.join(broadcast(confirmed),
      fp === col("__fp"), "left_anti")
  }

  // -------------------------------------------------------------- minhash


  /** MinHash signature: k independent minima of seeded 64-bit hashes of
    * the shingle set. Narrow projection; k×|shingles| hashes per row.
    * Native expression (bit-equal to [[minhashSignatureHof]]).
    */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    call_function("graft_minhash", shingleSet, lit(k))

  /** Composed-builtin form the native expression is validated against.
    * An empty shingle set (whitespace-only doc) is defined as a signature
    * of k × Long.MaxValue — the identity of min — matching the native
    * expression and the declared containsNull=false element type
    * (array_min of an empty array would otherwise yield null).
    */
  def minhashSignatureHof(shingleSet: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => coalesce(array_min(transform(shingleSet, s => xxhash64(s, i))),
        lit(Long.MaxValue)))

  /** LSH band keys: hash each of `bands` contiguous signature slices.
    * Docs sharing any band key are candidate pairs.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** THE banding projection — (outId, band) rows from text — shared
    * by [[lshCandidatePairs]], [[lshCandidatePairsAgainst]], AND the
    * persisted [[DedupIndex]] build: ONE definition, so the stored
    * band table and the inline screens cannot drift in shingle
    * distinctness, hash seed, or band packing (an edit here changes
    * all three together — the compile-time form of the
    * served-equals-inline property the specs pin). Repartition by id:
    * shingling+hashing is the CPU-heavy narrow stage; a single small
    * input file must not pin it to one task.
    */
  private[operators] def bandProjection(df: DataFrame, idCol: String,
                                        outId: String, textCol: String,
                                        shingleN: Int, k: Int,
                                        bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    df.repartition(graft.Par.n, col(idCol))
      .select(col(idCol).as(outId),
        array_distinct(TextFunctions.shingles(col(textCol), shingleN))
          .as("sh"))
      .withColumn("band",
        explode(lshBandKeys(minhashSignature(col("sh"), k), bands, r)))
      .select(col(outId), col("band"))
  }

  /** Candidate id pairs (idA < idB) sharing at least one LSH band.
    * One shuffle on the band key; distinct to merge multi-band hits.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 16, bands: Int = 4)
      : DataFrame = {
    // persist (not localCheckpoint): the band frame feeds both join
    // sides — compute once, and the recomputable lineage survives
    // executor loss, which truncated-lineage local checkpoints do not.
    val sigs = track(
      bandProjection(df, idCol, "id", textCol, shingleN, k, bands)
        .persist())
    val a = sigs.select(col("band"), col("id").as("id_a"))
    val b = sigs.select(col("band"), col("id").as("id_b"))
    a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Candidate (id_a = corpus, id_b = batch) pairs sharing at least one
    * LSH band ACROSS two frames — the incremental-ingest screen: a new
    * batch is checked against the standing corpus WITHOUT regenerating
    * (or even considering) corpus-vs-corpus pairs. Same signature recipe
    * as [[lshCandidatePairs]], so a batch admitted through this screen
    * joins the corpus with identical dedup semantics.
    *
    * Scale shape: both sides project signatures narrowly (codegen
    * minhash, no shuffle), then ONE shuffle on the band key whose
    * per-band fan-out is |corpus-bucket| × |batch-bucket| — batch side
    * is small in steady-state ingest, so bucket products stay tiny. At
    * 100 TB the corpus band table is computed once per epoch and kept in
    * a TableStore table keyed by band; ingest then touches only the
    * bands the batch occupies (partition pruning on the band hash does
    * this for free when the table is written bucketed by band).
    * Sides are assumed id-disjoint (separate tables); an id appearing on
    * both sides is dropped as a self-pair, never matched to itself.
    */
  def lshCandidatePairsAgainst(corpus: DataFrame, batch: DataFrame,
                               idCol: String, textCol: String,
                               shingleN: Int = 3, k: Int = 16,
                               bands: Int = 4): DataFrame =
    bandProjection(corpus, idCol, "id_a", textCol, shingleN, k, bands)
      .join(bandProjection(batch, idCol, "id_b", textCol, shingleN, k,
        bands), Seq("band"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()

  // ---------------------------------------------------- exact jaccard

  /** Exact word-n-gram Jaccard similarity for all pairs sharing >= 1
    * shingle (the inverted-index join — one shuffle on the shingle).
    * Returns (id_a, id_b, inter, n_a, n_b, jaccard) for jaccard >=
    * `threshold`. This is also the verifier stage after LSH.
    *
    * `maxShingleDf` > 0 drops stop-shingles whose document frequency
    * exceeds the cap BEFORE the self-join — the within-bucket term is
    * quadratic in a shingle's df, so one boilerplate phrase shared by
    * 10⁶ docs would otherwise cost 10¹² comparisons at corpus scale.
    * Capped semantics are deterministic: Jaccard over the shingle sets
    * with df <= cap (both intersection and sizes use the filtered sets).
    * 0 disables (exact — the oracle-checked mode).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, threshold: Double,
                   maxShingleDf: Int = 0): DataFrame =
    invertedPairCounts(df, idCol, textCol, shingleN, maxShingleDf)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)

  /** Blocking-screen candidate pairs: every (id_a < id_b) pair sharing
    * at least `minCommon` distinct `shingleN`-gram shingles — the
    * inverted-index CANDIDATE stage of [[jaccardPairs]] exposed on its
    * own, for screen-quality evaluation
    * ([[Eval.pairsPrecisionRecall]], the q136 gate) and for pipelines
    * that verify candidates with a different measure than Jaccard.
    * minCommon = 1 is recall-complete for any Jaccard threshold > 0
    * (a positive intersection shares a shingle by definition); higher
    * values trade recall for a smaller candidate set — measure the
    * trade with the evaluator before committing to a threshold.
    * Same scale shape and `maxShingleDf` stop-shingle cap as
    * [[jaccardPairs]]. Returns (id_a, id_b, inter, n_a, n_b).
    */
  def blockingPairs(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int, minCommon: Long,
                    maxShingleDf: Int = 0): DataFrame = {
    require(minCommon >= 1, s"minCommon >= 1, got $minCommon")
    invertedPairCounts(df, idCol, textCol, shingleN, maxShingleDf)
      .filter(col("inter") >= minCommon)
  }

  /** Edit-distance near-duplicate pairs — the CHARACTER-level member
    * of the pair family (Levenshtein ≤ `maxDist` on `strCol`): the
    * classic fuzzy-key dedup for titles, URLs, product names, OCR
    * noise — places where one transposed or substituted character is
    * the whole difference, which the token-set measures (Jaccard,
    * containment, MinHash) cannot see at all and SimHash only sees in
    * aggregate.
    *
    * Candidate generation is a LENGTH-BANDED self-join: strings with
    * Levenshtein ≤ d differ in length by ≤ d, so bucketing on
    * ⌊len/(d+1)⌋ and probing each pair's bucket ±1 is COMPLETE (two
    * lengths within d are at most one bucket apart) — one equi-join
    * exchange keyed by bucket, never a cross join. Each qualifying
    * pair matches on exactly one probe offset, so no dedup pass is
    * needed. Verification uses the THRESHOLDED Levenshtein kernel
    * (`levenshtein(a, b, d)` — Ukkonen-banded, O(d·min(la,lb)) per
    * pair, short-circuits past d) rather than the full O(la·lb) DP.
    *
    * This length-banded form is the ORACLE CONTRACT (q107): at corpus
    * scale length is a weak discriminator (bucket occupancy grows
    * linearly), so the production path generates candidates with the
    * shingle/LSH family (q18's banding on character n-grams) and
    * keeps only this operator's thresholded-verify stage — the same
    * oracle-form/production-form split as q17 vs q18. Distances are
    * exact integers: any engine's Levenshtein agrees bit-for-bit.
    * Returns (id_a, id_b, dist), id_a < id_b, dist ≤ maxDist.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist >= 0, got $maxDist")
    val w = maxDist + 1
    // repartition by id: with a small probes side the band join plans
    // as a BROADCAST join, whose output inherits THIS side's
    // partitioning — a single-file input would otherwise run every
    // thresholded-DP verify in one task (the q107 9 s lesson)
    val t = df
      .filter(col(strCol).isNotNull)
      .repartition(graft.Par.n, col(idCol))
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("b", floor(length(col("s")) / w))
    val probes = t.select(col("id").as("id_b"), col("s").as("sb"),
      explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
    // SALTED band join: real corpora concentrate lengths (the q107
    // suffix fixture is one bucket), and an equi-join on a single hot
    // bucket runs as ONE task no matter how many cores exist — the
    // deterministic Skew salt spreads the bucket's pair work 32 ways
    // with identical output (verify filter unchanged); 128 salts over 32
    // shuffle partitions keeps the per-partition load balanced (32
    // salts into 32 hash partitions left 2-3x stragglers). NOTE: the
    // salt replicates the probes side ×salts — acceptable for THIS
    // oracle form's contract (small fixtures; the Θ(n²) verify
    // dominates anyway)
    Skew.saltedJoin(
      t.select(col("id").as("id_a"), col("s").as("sa"), col("b")),
      probes, Seq("b"), saltBy = Seq(col("id_a")), salts = 128)
      .filter(col("id_a") < col("id_b") &&
        abs(length(col("sa")) - length(col("sb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("sa"), col("sb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Shared inverted-index pair-count stage of [[jaccardPairs]] /
    * [[containmentPairs]]: (id_a, id_b, inter, n_a, n_b) for every
    * pair sharing ≥ 1 surviving shingle. One shuffle on the shingle;
    * map-side-combined pair counts.
    */
  private def invertedPairCounts(df: DataFrame, idCol: String,
                                 textCol: String, shingleN: Int,
                                 maxShingleDf: Int): DataFrame = {
    // repartition: parallelize shingling regardless of input splits;
    // persist: the inverted index feeds three consumers (both join
    // sides + sizes) — compute the heavy projection once, fault-tolerantly.
    val shAll = track(df.repartition(graft.Par.n, col(idCol))
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN)))
          .as("sh"))
      .persist())
    val sh = if (maxShingleDf > 0) {
      // Heavy hitters are few by construction (df > cap) — broadcast the
      // hot set and anti-join it away without shuffling the index.
      val hot = shAll.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > maxShingleDf).select(col("sh"))
      shAll.join(broadcast(hot), Seq("sh"), "left_anti")
    } else shAll
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"), col("x.sh") === col("y.sh"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n", "n_b"), "id_b")
  }

  /** Containment-similarity pairs — `inter / min(n_a, n_b)` ≥
    * `threshold`: catches a short document EMBEDDED in a longer one,
    * which Jaccard structurally misses (a 100-shingle doc inside a
    * 10,000-shingle doc has J ≈ 0.01 but containment 1.0) — the
    * asymmetric near-dup class of real web corpora (quotes,
    * syndication, wrapper pages; the Broder 1997 "containment"
    * companion resemblance measure). Same inverted-index plan and
    * `maxShingleDf` hot-set cap as [[jaccardPairs]] — only the score
    * algebra differs — and BOTH scores are emitted so one pass feeds
    * either threshold downstream. Exact audit/oracle form; at corpus
    * scale feed candidates from [[lshCandidatePairs]] first (q18's
    * pattern).
    *
    * Returns (id_a, id_b, inter, n_a, n_b, containment, jaccard).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, threshold: Double,
                       maxShingleDf: Int = 0): DataFrame =
    invertedPairCounts(df, idCol, textCol, shingleN, maxShingleDf)
      .withColumn("containment", col("inter").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("containment") >= threshold)

  /** [[jaccardPairs]] twin with AllPairs prefix filtering (Bayardo et
    * al., WWW'07; Chaudhuri et al., ICDE'06): exact SAME pairs and
    * values, but the inverted index holds only each doc's PREFIX —
    * its first `n - ceil(t*n) + 1` shingles under a global
    * rarest-first order. Two sets with Jaccard >= t must intersect
    * (inter >= t*max(n_a,n_b)), and an intersection that large cannot
    * hide entirely in either suffix, so every qualifying pair still
    * collides on a prefix shingle; survivors are then exact-verified
    * per pair ([[verifyJaccard]]). A length filter (t*n_a <= n_b <=
    * n_a/t, applied as products) prunes candidates whose sizes alone
    * rule them out.
    *
    * Why a twin: the uncapped [[jaccardPairs]] join emits Θ(Σ_sh df²)
    * rows. Rarest-first prefixes concentrate index entries on LOW-df
    * shingles, collapsing that sum on Zipf-distributed real corpora
    * (where a few boilerplate shingles carry most of the quadratic
    * term) — and the win grows with the threshold (prefix length
    * shrinks as 1-t). On a uniform-df corpus (the synthetic fixture:
    * 30-word vocab, every trigram df ≈ corpus/27k) it only trims
    * ~(1-t)², measured 0.73× at sf1 — that residual density is
    * intrinsic to exact all-pairs; the production dedup path for such
    * data stays LSH→verify ([[lshCandidatePairs]], 16× faster at the
    * same 10× scale, recall gated by q17's oracle).
    *
    * Shuffles, all LINEAR in the index: df aggregate + join back
    * (shingle), prefix window (doc — partitioned, never global),
    * candidate self-join (shingle, quadratic only within prefix
    * buckets), pair distinct, two verify joins (id). Threshold
    * arithmetic rounds t*n at 1e-6 before ceil so FP noise can only
    * LENGTHEN a prefix (more candidates), never drop a true pair.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs 0 < threshold <= 1, got $threshold")
    val t = lit(threshold)
    val index = track(df.repartition(graft.Par.n, col(idCol))
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN)))
          .as("sh"))
      .persist())
    val dfreq = index.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df").asc, col("sh").asc)
    // NOT persisted: the two self-join sides are identical subtrees, so
    // ReuseExchange already computes the windowed prefix once (a pin
    // measured slightly WORSE at sf1 — materialization barrier + memory
    // for no saved work)
    val prefix = index.join(dfreq, Seq("sh"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
      .filter(col("rk") <= col("n") - ceil(round(t * col("n"), 6)) + 1)
      .select(col("sh"), col("id"), col("n"))
    val a = prefix.select(col("sh"), col("id").as("id_a"), col("n").as("n_a"))
    val b = prefix.select(col("sh"), col("id").as("id_b"), col("n").as("n_b"))
    val cands = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b") &&
        col("n_b") >= round(t * col("n_a"), 6) &&
        col("n_a") >= round(t * col("n_b"), 6))
      .select(col("id_a"), col("id_b")).distinct()
    verifyJaccard(cands, df, idCol, textCol, shingleN, threshold)
  }

  /** Exact Jaccard verification restricted to the given candidate pairs
    * — the scale-correct second stage after LSH: per-pair set
    * intersection (codegen'd array_intersect), never the corpus-wide
    * inverted-index join. Shuffles: the two id-equi-joins attaching
    * shingle sets to candidate rows, both proportional to |candidates|.
    * Values are identical to [[jaccardPairs]] for the same pair.
    */
  def verifyJaccard(pairs: DataFrame, df: DataFrame, idCol: String,
                    textCol: String, shingleN: Int,
                    threshold: Double): DataFrame = {
    val sets = df.repartition(graft.Par.n, col(idCol))
      .select(col(idCol).as("id"),
        array_distinct(TextFunctions.shingles(col(textCol), shingleN))
          .as("sh"))
    val a = sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b")))
        .cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .drop("sh_a", "sh_b")
  }

  // ------------------------------------------------- cluster / survivors

  /** Connected components over verified near-dup pairs — the stage
    * between pair generation (LSH/Jaccard/SimHash) and deletion: near-dup
    * relations are not transitive-closed (A~B, B~C without A~C), so
    * electing one survivor per PAIR over-deletes; the unit of dedup is
    * the component. Returns (id, comp) for every id appearing in a pair,
    * comp = min id in its component.
    *
    * Algorithm: iterative min-label propagation. Each round: one
    * (dst=id) equi-join + one (src) min-aggregate over the edge list,
    * label frames persisted and the previous round's unpersisted; stop
    * when no label decreased (driver-side count — an O(1)-row aggregate
    * per round, not a data collect). Rounds = component diameter, and
    * near-dup clusters are shallow (members all resemble one proto-doc),
    * so 3-5 rounds in practice; `maxIter` bounds the adversarial chain
    * case — convergence is confirmed by a final quiescent round, so a
    * component of diameter d needs maxIter ≥ d + 1. At 100 TB the edge
    * list is |verified pairs| ≪ corpus — the loop never touches
    * document text, only (id, id) pairs.
    *
    * The returned frame is backed by one checkpointed (id, comp)
    * dataset — two longs per paired doc, the smallest possible pin;
    * callers done with it release it via
    * [[Loops.releaseIntermediates]]. Each round's label frame is
    * lineage-truncated via [[Loops.truncate]]: the round's plan
    * references the previous round TWICE (directly and through the
    * neighbor aggregate), so carrying the logical plan forward doubles
    * its size per round — Catalyst re-analysis goes exponential around
    * diameter ~15 (see Loops for the fault-tolerance trade).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    // dst-partitioned once (the pageRank discipline, repartition
    // BEFORE distinct so one exchange does both): the per-round
    // neighbor-min join is keyed on dst, so the persisted edge list
    // never re-shuffles inside the loop
    val edges = track(pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(graft.Par.n, col("dst")).distinct()
      .persist())
    var (labels, relLbl0) = Loops.truncate(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp")))
    var relLbl = trackRelease(relLbl0)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // min label among each node's neighbors, then keep the smaller of
      // (own, neighbors'); comp only ever decreases, toward the
      // component min, so the fixpoint is exactly the component labeling
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr"))
      // lazy: the convergence count below materializes the checkpoint
      val (step, relStep) = Loops.truncate(labels.as("l")
        .join(nbrMin, col("l.id") === nbrMin("src"), "left")
        .select(col("l.id").as("id"), col("l.comp").as("old"),
          least(col("l.comp"), coalesce(col("nbr"), col("l.comp")))
            .as("comp")), eager = false)
      changed = step.filter(col("comp") < col("old")).count()
      relLbl()
      relLbl = trackRelease(relStep)
      labels = step.select(col("id"), col("comp"))
      iter += 1
    }
    release(edges)
    // fail loudly: a silently-unconverged labeling splits one real
    // cluster into several "components" with several survivors —
    // over-retention with no signal. Components of diameter ≥ maxIter
    // (the last permitted round still decreased labels, so quiescence
    // was never confirmed) need a larger budget.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents not confirmed converged in $maxIter " +
          s"rounds ($changed labels decreased in the last round); " +
          "raise maxIter (diameter d needs maxIter >= d + 1)")
    labels
  }

  /** [[connectedComponents]] twin with O(log n) round complexity:
    * alternating large-star / small-star contraction (the MapReduce CC
    * algorithm of Kiveris et al.), for graphs whose diameter — not
    * size — is the problem. Min-label propagation needs one round per
    * hop, so a pathological near-dup CHAIN (template docs A≈B≈C≈…)
    * walks its whole length; star contraction halves structure every
    * round on the same bare (id, id) frames.
    *
    * One round = large-star (every node points its LARGER neighbors at
    * its neighborhood min — preserves connectivity, never increases
    * edge count) then small-star (orient edges big→small, point each
    * node's smaller neighbors and itself at the min). The fixpoint is
    * the star graph: every non-min node holds exactly the edge
    * (id, component-min). Convergence is CONFIRMED structurally (the
    * round reproduces its input edge set — checked with two
    * anti-joins), not inferred from a count, and failure to converge
    * within `maxIter` throws loudly like the propagation twin.
    *
    * Same contracts as [[connectedComponents]]: output (id, comp = min
    * member id) for every id in a pair; per-round plan truncation via
    * RDD rebuild (recomputable lineage, no localCheckpoint); pins
    * released via [[releaseIntermediates]]. Prefer this form when
    * clusters may chain; the propagation twin stays as the
    * audit/oracle form (q61).
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 30): DataFrame = {
    def dedup(e: DataFrame): DataFrame =
      e.filter(col("src") =!= col("dst")).distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val n = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = n.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
      dedup(n.join(m, n("src") === col("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = o.groupBy(col("src")).agg(min(col("dst")).as("m"))
        .select(col("src").as("u"), col("m"))
      val joined = o.join(m, o("src") === col("u"))
      dedup(joined.select(col("dst").as("src"), col("m").as("dst"))
        .union(m.select(col("u").as("src"), col("m").as("dst"))))
    }
    // Structural-convergence signature: (edge count, xor of edge
    // hashes, exact decimal sum of edge hashes) — set-equality up to
    // hash-collision odds (~2⁻¹²⁸ for both folds to collide), ONE
    // aggregate over the frame instead of the two anti-join probes a
    // previous revision ran per round (which doubled the round's join
    // count and made q66 the suite's slowest query). The previous
    // round's signature is reused, so each round pays exactly one
    // aggregate — which also fully materializes the new cache before
    // the old pin is dropped. Decimal accumulation: ANSI mode errors
    // on long-sum overflow.
    def signature(e: DataFrame): (Long, Long, java.math.BigDecimal) = {
      val h = xxhash64(col("src"), col("dst"))
      val r = e.agg(
        count(lit(1)),
        coalesce(call_function("bit_xor", h), lit(0L)),
        coalesce(sum(h.cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getLong(1), r.getDecimal(2))
    }
    var (cur, relCur0) = Loops.truncate(dedup(pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))))
    var relCur = trackRelease(relCur0)
    var sigCur = signature(cur)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // plan truncation per round (see connectedComponents): the next
      // round references this frame several times, so the logical plan
      // would otherwise compound
      // lazy: the signature aggregate materializes the checkpoint
      val (stepped, relStep) =
        Loops.truncate(smallStar(largeStar(cur)), eager = false)
      // convergence: the round reproduced its input edge set
      val sigStep = signature(stepped)
      converged = sigStep == sigCur
      sigCur = sigStep
      relCur()
      relCur = trackRelease(relStep)
      cur = stepped
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar not converged in $maxIter rounds; " +
          "raise maxIter (rounds grow ~log of the largest component)")
    // star fixpoint: every edge is (member, component-min); minima
    // label themselves
    val labeled = dedup(cur)
      .select(col("src").as("id"), col("dst").as("comp"))
      .union(cur.select(col("dst").as("id"), col("dst").as("comp")))
      .distinct()
    // ids appearing ONLY in self-pairs (x,x) never enter the
    // contraction (dedup drops self-edges) but are ids-in-a-pair under
    // the output contract — the propagation twin labels them with
    // themselves, so this twin must too. The pushed a==b filter costs
    // one extra scan of `pairs`, on par with the propagation twin's
    // two-scan edge union.
    val selfOnly = pairs.filter(col(aCol) === col(bCol))
      .select(col(aCol).as("id")).distinct()
      .join(labeled.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    labeled.union(selfOnly)
  }

  /** Per-component dedup summary over verified pairs: component id (=
    * min member id, the elected survivor), member count, and how many
    * docs deletion would remove. Downstream: anti-join the corpus
    * against `explode`d non-survivor ids, exactly like exact dedup's
    * survivor set.
    */
  def neardupClusters(pairs: DataFrame, aCol: String = "id_a",
                      bCol: String = "id_b"): DataFrame =
    clusterSummary(connectedComponents(pairs, aCol, bCol))

  /** [[neardupClusters]] with the O(log n)-round star-contraction
    * labeler ([[connectedComponentsStar]]) — same summary, for corpora
    * whose near-dup relation may CHAIN (templates). Oracle-equal to the
    * propagation form (q61/q66 share one SQL mirror).
    */
  def neardupClustersStar(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b"): DataFrame =
    clusterSummary(connectedComponentsStar(pairs, aCol, bCol))

  private def clusterSummary(labels: DataFrame): DataFrame =
    labels.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        min(col("id")).as("survivor_id"),
        (count(lit(1)) - 1).as("n_removed"))

  /** Quality-aware survivor election over component labels
    * ([[connectedComponents]]/[[connectedComponentsStar]] output): the
    * retention policy a curation pipeline actually wants. Min-id
    * election ([[neardupClusters]]) keeps an arbitrary member; this
    * keeps, per component, the member passing the MOST
    * [[graft.functions.QualityRules]] gates (ties: more words, then
    * min id — a total order, so the election is deterministic).
    *
    * Scale shape: ONE id-keyed join (labels → per-doc integer quality
    * columns; both sides hash-partition on id) + ONE comp-keyed
    * aggregate. The argmax rides the aggregate as a lexicographic
    * `max(struct(passes, n_words, -id))` over exact integer fields —
    * it folds map-side under partial aggregation, so no window, no
    * per-component row materialization, and component size never
    * concentrates on one task beyond the aggregate's partial rows.
    */
  def electSurvivorsByQuality(labels: DataFrame, docs: DataFrame,
      idCol: String, textCol: String,
      cfg: graft.functions.QualityRules.Config =
        graft.functions.QualityRules.Config()): DataFrame = {
    import graft.functions.QualityRules
    val ann = QualityRules.annotate(
      docs.select(col(idCol).as("id"), col(textCol)), textCol, cfg)
    val passes = QualityRules.rules(cfg)
      .map { case (n, _) => col(n) }.reduce(_ + _)
    val scored = labels.join(
      ann.select(col("id"), passes.as("passes"), col("n_words")),
      Seq("id"))
    scored.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("passes"), col("n_words"),
          (-col("id")).as("nid"))).as("__k"))
      .select(col("comp"), col("n_members"),
        (-col("__k.nid")).as("keep_id"),
        col("__k.passes").as("keep_passes"),
        col("__k.n_words").as("keep_words"),
        (col("n_members") - 1).as("n_removed"))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash of a token array: bit j of the result is 1 iff the
    * sum over tokens of (bit j of xxhash64(token) ? +1 : -1) is positive.
    * Pure column algebra — hashes each token once, then folds 64 bit
    * planes (unrolled in Scala: Spark's shift builtins take only literal
    * shift amounts); narrow, no shuffle. Bits are disjoint so the final
    * recombination by + is exact, sign bit included.
    */
  def simhash(tokensCol: Column): Column =
    call_function("graft_simhash", tokensCol)

  /** MD5-hash variant of [[simhash]] — identical votes computed from
    * the first 8 MD5 digest bytes per token. ~2× the per-token hash cost
    * of xxhash64 but portable to any engine with an MD5 builtin, which
    * makes the whole banded-dedup pipeline externally verifiable.
    */
  def simhashMd5(tokensCol: Column): Column =
    call_function("graft_simhash_md5", tokensCol)

  /** Composed-builtin form the native expression is validated against. */
  def simhashHof(tokensCol: Column): Column = {
    val hs = transform(tokensCol, t => xxhash64(t))
    (0 until 64).map { j =>
      val mask = 1L << j
      val vote = aggregate(hs, lit(0L),
        (a, h) => a + when(h.bitwiseAND(lit(mask)) =!= 0L, lit(1L))
          .otherwise(lit(-1L)))
      when(vote > 0, lit(mask)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by SimHash: bucket on `bands` bit-slices of the
    * signature (a pair within hamming d < bands shares >= 1 exact band by
    * pigeonhole), then exact hamming filter <= maxDist.
    */
  def simhashPairs(df: DataFrame, idCol: String, sigCol: String,
                   maxDist: Int, bands: Int = 4): DataFrame = {
    // loud envelope (the cmsBuild/hllRegisters convention): bands=0
    // divides by zero; bands>64 makes width=0 and EVERY band key
    // identical — the all-pairs cross join this design exists to avoid
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"simhashPairs: bands must divide 64 (1..64), got $bands")
    require(maxDist >= 0 && maxDist < bands,
      s"simhashPairs: pigeonhole completeness needs maxDist < bands " +
        s"(got maxDist=$maxDist, bands=$bands)")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val bandKeys = array((0 until bands).map(b =>
      struct(lit(b).as("b"),
        shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))
          .as("bits"))): _*)
    val banded = track(df.repartition(graft.Par.n, col(idCol))
      .select(col(idCol).as("id"), col(sigCol).as("sig"))
      .withColumn("key", explode(bandKeys))
      .persist()) // feeds both self-join sides, recomputable
    val a = banded.select(col("key"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val bb = banded.select(col("key"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(bb, Seq("key")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // ---- winnowing (local fingerprinting / copy detection) ----

  /** Positions fit the packed (hash, position) comparison key:
    * winnowing supports documents up to 2^24 shingle positions (16M
    * tokens — far past any sane document; compose with [[Chunker]]
    * first if inputs can exceed it).
    */
  private val WinnowPosSpace: Long = 1L << 24

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every word `k`-gram, then
    * in each sliding window of `w` consecutive hashes keep the
    * minimum, ties resolved to the RIGHTMOST position. The selected
    * (position, hash) set is a ~2/(w+1)-density LOCAL fingerprint of
    * the document with the winnowing guarantee: any passage of
    * ≥ w+k−1 shared tokens between two documents yields a shared
    * fingerprint — substring-level copy detection that global MinHash
    * (document-resemblance) cannot give. Boundary-inclusive variant:
    * windows shorter than `w` at the document head also select (the
    * frame clamps), so short documents still fingerprint; this only
    * ADDS fingerprints, preserving the guarantee. Unlike fixed-stride
    * sampling, selection is content-addressed — inserting a paragraph
    * shifts positions but reselects the same hashes elsewhere.
    *
    * Returns one row per selected fingerprint: (idCol, pos, fp) — pos
    * the 1-based shingle position (for match localization), fp the
    * 36-bit md5-derived shingle hash ([[Sampling.hashBucket]]
    * convention, so any engine can replay it — see q151's oracle).
    *
    * Scale design: shingle hashing is a narrow codegen'd
    * explode+projection; the rightmost-min-per-window rule is ONE
    * doc-partitioned window over packed (hash·2^24 + reversed-pos)
    * longs — min of the packed key IS (min hash, rightmost pos),
    * no second argmin pass — then a distinct that reuses the same
    * (id) partitioning. Output is ~2/(w+1) of the shingle count.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 5,
                         salt: String = "winnow"): DataFrame = {
    require(k >= 1, s"winnow: k must be >= 1, got $k")
    require(w >= 1, s"winnow: w must be >= 1, got $w")
    val P = WinnowPosSpace
    val based = df
      .filter(length(TextFunctions.normalizeText(col(textCol))) > 0)
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
      // one truncated shingle for docs shorter than k (the
      // ShinglesExpr clamp convention) — every non-empty doc selects
      .withColumn("__i", explode(sequence(lit(1L),
        greatest(lit(1L), (size(col("__t")) - (k - 1)).cast("long")))))
      .withColumn("__s",
        array_join(slice(col("__t"), col("__i"), lit(k)), " "))
      .withColumn("__key",
        Sampling.hashBucket(col("__s"), salt, hexChars = 9) * P +
          (lit(P - 1) - col("__i")))
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__i"))
      .rowsBetween(-(w - 1), org.apache.spark.sql.expressions
        .Window.currentRow)
    based.withColumn("__skey", min(col("__key")).over(wspec))
      .select(col(idCol), col("__skey")).distinct()
      .select(col(idCol),
        (lit(P - 1) - pmod(col("__skey"), lit(P))).as("pos"),
        expr(s"__skey div $P").as("fp"))
  }

  /** Document pairs sharing ≥ `minShared` winnowing fingerprints —
    * the copy-detection report (which documents contain the same
    * passages, not just resemble each other). Fingerprints seen in
    * more than `maxDf` documents are dropped before pairing: they are
    * boilerplate (the q70 insight) and would otherwise fan a single
    * hot hash into df² pairs — with the cap, per-fingerprint pair
    * fan-out is ≤ maxDf·(maxDf−1)/2. Returns (id_a, id_b, n_shared),
    * n_shared = count of DISTINCT shared fingerprint hashes.
    *
    * Scale: the document-frequency aggregate and the self-join are
    * both fp-keyed — one partitioning, reused across the keep-filter
    * join and both pair sides (ReuseExchange, the q65 shape). The
    * keep list rides a plain fp join (NOT broadcast: shared
    * fingerprint mass is proportional to duplication, unbounded at
    * corpus scale — AQE may still choose broadcast when it fits).
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 5, minShared: Long = 2L,
                  maxDf: Int = 8, salt: String = "winnow"): DataFrame = {
    require(maxDf >= 2, s"winnow: maxDf must be >= 2, got $maxDf")
    require(minShared >= 1L,
      s"winnow: minShared must be >= 1, got $minShared")
    val fp = winnowFingerprints(df, idCol, textCol, k, w, salt)
      .select(col(idCol), col("fp")).distinct()
    val keep = fp.groupBy(col("fp")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= 2 && col("__d") <= maxDf)
      .select(col("fp"))
    val pruned = fp.join(keep, "fp")
    val a = pruned.select(col("fp"), col(idCol).as("id_a"))
    val b = pruned.select(col("fp"), col(idCol).as("id_b"))
    a.join(b, "fp").filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
