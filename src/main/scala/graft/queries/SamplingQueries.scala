package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.operators.Sampling

/** Deterministic corpus-sampling coverage (reproducible subsample /
  * split / domain-mix — north-star curation operators). The oracle
  * replays the md5 bucket arithmetic digit-by-digit in SQL; thresholds
  * are the SAME Scala-computed longs on both sides so float rounding
  * can't drift.
  */
object SamplingQueries {

  /** First `n` hex chars of `h` as an integer — the ONE SQL mirror of
    * [[Sampling.hashBucket]] (n=8) / [[graft.operators.Sketches.hash60]]
    * (n=15).
    */
  private[queries] def bucketSql(h: String, n: Int = 8): String =
    (0 until n).map(i =>
      s"(STRPOS('0123456789abcdef', SUBSTRING($h, ${i + 1}, 1)) - 1)" +
        s" * ${1L << (4 * (n - 1 - i))}")
      .mkString("(", " + ", ")")

  private[queries] def bucketSql15(h: String): String = bucketSql(h, 15)

  /** SQL mirror of the md5("salt:key") input — same [[Sampling.NullKey]]
    * sentinel for null keys as the Column form.
    */
  private[queries] def hashSql(salt: String, keyExpr: String): String =
    s"md5(CONCAT('$salt', ':', COALESCE(CAST($keyExpr AS VARCHAR), " +
      s"'${Sampling.NullKey}')))"

  private val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val splitBounds: Seq[(String, Long)] = {
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    splits.map(_._1).zip(cum.map(c => math.round(c * Sampling.BucketSpace)))
  }

  /** q40 — reproducible train/val/test assignment keyed on doc_id.
    * Narrow projection, no shuffle; the oracle recomputes bucket and
    * split from scratch, so a drifted hash or boundary fails the gate.
    */
  private val q40 = Q("q40_hash_split",
    (s, dir) => {
      val d = Sampling.assignSplits(t(s, dir, "documents"), "doc_id",
        splits, salt = "graft")
      d.select(col("doc_id"),
          Sampling.hashBucket(col("doc_id"), "graft").as("bucket"),
          col("split"))
        .orderBy(col("doc_id"))
    },
    Some {
      val cases = splitBounds
        .map { case (n, b) => s"WHEN bucket < $b THEN '$n'" }
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id,
          ${hashSql("graft", "doc_id")} AS h
        FROM documents),
      b AS (SELECT doc_id, CAST(${bucketSql("h")} AS BIGINT) AS bucket
        FROM d)
      SELECT doc_id, bucket, CASE $cases ELSE NULL END AS split
      FROM b ORDER BY doc_id"""
    })

  /** Per-source keep rates for q41 — four tiers over the 20 sources. */
  private val mixRates: Map[String, Double] =
    (0 until 20).map(n => s"src$n" -> (n % 4 match {
      case 0 => 1.0
      case 1 => 0.5
      case 2 => 0.25
      case _ => 0.1
    })).toMap

  /** q41 — domain re-weighting then per-source survivor stats: the
    * mixture-adjustment pass of corpus assembly. One narrow filter
    * (rates as a map literal, no join) then one agg exchange.
    */
  private val q41 = Q("q41_domain_mix",
    (s, dir) => {
      val kept = Sampling.mixDomains(t(s, dir, "documents"),
        "source", "doc_id", mixRates, salt = "mix")
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    },
    Some {
      val cases = mixRates.toSeq.sortBy(_._1)
        .map { case (src, r) =>
          s"WHEN '$src' THEN ${math.round(r * Sampling.BucketSpace)}"
        }
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id, source, n_chars,
          ${hashSql("mix", "doc_id")} AS h
        FROM documents),
      b AS (SELECT source, n_chars,
          CAST(${bucketSql("h")} AS BIGINT) AS bucket,
          CASE source $cases ELSE 0 END AS thr
        FROM d)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM b WHERE bucket < thr
      GROUP BY source ORDER BY source"""
    })

  /** q45 — exactly-10-per-source stratified sample: deterministic
    * bucket-ranked selection, reproducible at any partitioning. One
    * window shuffle on the stratum.
    */
  private val q45 = Q("q45_stratified_sample",
    (s, dir) => {
      Sampling.stratifiedTopK(t(s, dir, "documents"), "source", "doc_id",
        k = 10, salt = "strat")
        .select(col("source"), col("doc_id"), col("bucket"),
          col("strat_rank"))
        .orderBy(col("source"), col("strat_rank"))
    },
    Some(s"""WITH d AS (SELECT source, doc_id,
          ${hashSql("strat", "doc_id")} AS h
        FROM documents),
      b AS (SELECT source, doc_id,
          CAST(${bucketSql("h")} AS BIGINT) AS bucket FROM d),
      r AS (SELECT source, doc_id, bucket,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY bucket, doc_id) AS BIGINT) AS strat_rank
        FROM b)
      SELECT source, doc_id, bucket, strat_rank
      FROM r WHERE strat_rank <= 10
      ORDER BY source, strat_rank"""))

  /** q53 — KMV distinct sketch ([[graft.operators.Sketches]]): per-source
    * estimate of distinct text fingerprints, with the exact count
    * alongside. The md5-derived hash makes the ESTIMATE itself
    * reproducible in SQL — a verifiable sketch, unlike HLL registers.
    */
  private val q53 = Q("q53_kmv_distinct",
    (s, dir) => {
      val docs = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
        .select(col("source"),
          graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      graft.operators.Sketches
        .kmvDistinct(docs, Seq("source"), "fp", k = 16, salt = "kmv")
        .orderBy(col("source"))
    },
    Some(s"""WITH fp AS (SELECT source,
          MD5(${TextQueries.normSql("text")}) AS f FROM documents),
      h AS (SELECT DISTINCT source,
          CAST(${bucketSql15(hashSql("kmv", "f"))} AS BIGINT)
            AS hh
        FROM fp),
      r AS (SELECT source, hh,
          COUNT(*) OVER (PARTITION BY source) AS n_exact,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh) AS rn
        FROM h)
      SELECT source, CAST(MAX(n_exact) AS BIGINT) AS n_exact,
        MAX(hh) AS kth_min,
        CASE WHEN MAX(n_exact) < 16 THEN CAST(MAX(n_exact) AS DOUBLE)
          ELSE 15.0 * 1152921504606846976.0 / CAST(MAX(hh) AS DOUBLE)
          END AS est
      FROM r WHERE rn <= 16 GROUP BY source ORDER BY source"""))

  /** q63 — weight-balanced shard assignment
    * ([[graft.operators.Sampling.assignShardsBalanced]]): deal docs
    * into 8 training shards round-robin over the (n_chars DESC, doc_id)
    * order, so shard byte-sums stay within one max-doc of each other —
    * hash-random sharding leaves percent-level imbalance that turns
    * into straggler shards at training time. Output gates both the
    * assignment and the balance (per-shard doc and char sums).
    */
  private val q63 = Q("q63_balanced_shards",
    (s, dir) => {
      Sampling.assignShardsBalanced(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id", n = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("n_chars")).cast("long").as("min_chars"))
        .orderBy(col("shard"))
    },
    Some("""WITH r AS (SELECT doc_id, n_chars,
        ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
      SELECT CAST((rn - 1) % 8 AS BIGINT) AS shard, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(MIN(n_chars) AS BIGINT) AS min_chars
      FROM r GROUP BY shard ORDER BY shard"""))

  /** q64 — temperature-based domain rebalancing
    * ([[graft.operators.Sampling.temperatureMix]], α = 0.5): first skew
    * the uniform corpus deterministically (n_chars % 25 thins each
    * source to a different size), then flatten toward p^0.5. The oracle
    * recomputes the per-source keep-rates from scratch — possible
    * because at α = 0.5 the rate is sqrt(n_min/n), and division, sqrt,
    * and the positive-value ROUND are correctly-rounded/identical in
    * both engines, so the quantized thresholds match bit-for-bit.
    */
  private val q64 = Q("q64_temperature_mix",
    (s, dir) => {
      val skew = t(s, dir, "documents")
        .filter(pmod(col("n_chars"), lit(25)) <
          substring(col("source"), 4, 10).cast("int") + 5)
      Sampling.temperatureMix(skew, "source", "doc_id",
          alpha = 0.5, salt = "temp")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("source"))
    },
    Some(s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents
        WHERE n_chars % 25 < CAST(SUBSTR(source, 4) AS INT) + 5),
      c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
      m AS (SELECT MIN(n) AS nmin FROM c),
      r AS (SELECT source,
          CAST(ROUND(SQRT(CAST(m.nmin AS DOUBLE) / CAST(c.n AS DOUBLE))
            * ${Sampling.BucketSpace}) AS BIGINT) AS thr
        FROM c, m),
      k AS (SELECT d.source, d.n_chars FROM d
        JOIN r ON d.source = r.source
        WHERE CAST(${bucketSql(hashSql("temp", "d.doc_id"))} AS BIGINT)
          < r.thr)
      SELECT source, COUNT(*) AS n_kept,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM k GROUP BY source ORDER BY source"""))

  /** q68 — q63's weight-balanced sharding through the stratified twin
    * ([[graft.operators.Sampling.assignShardsStratified]], 16 strata):
    * the dealing window partitions on the md5 stratum, so no global
    * single-task sort exists at any scale. The oracle recomputes the
    * stratum (portable md5 bucket), the within-stratum rank, and the
    * rotated deal from scratch — shard membership is pinned exactly,
    * not just the per-shard totals.
    */
  private val q68 = Q("q68_balanced_shards_stratified",
    (s, dir) => {
      Sampling.assignShardsStratified(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id", n = 8, strata = 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("n_chars")).cast("long").as("min_chars"))
        .orderBy(col("shard"))
    },
    Some(s"""WITH d AS (SELECT doc_id, n_chars,
        ${hashSql("shard-strata", "doc_id")} AS h FROM documents),
      st AS (SELECT doc_id, n_chars,
        CAST(${bucketSql("h")} AS BIGINT) % 16 AS stratum FROM d),
      r AS (SELECT doc_id, n_chars, stratum,
        ROW_NUMBER() OVER (PARTITION BY stratum
          ORDER BY n_chars DESC, doc_id) AS rn FROM st)
      SELECT CAST((rn - 1 + stratum) % 8 AS BIGINT) AS shard,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(MIN(n_chars) AS BIGINT) AS min_chars
      FROM r GROUP BY shard ORDER BY shard"""))

  /** q69 — the PRODUCTION KMV path ([[graft.operators.Sketches
    * .kmvEstimate]]) under the oracle directly: per-source distinct
    * fingerprint estimate with NO exact count anywhere in the plan
    * (WindowGroupLimit prunes to k hashes per group per partition —
    * the plan q53's audit twin certifies the estimate against, now
    * value-pinned on its own). Same md5/bottom-k arithmetic as q53's
    * mirror; the est division is IEEE-identical in both engines.
    */
  private val q69 = Q("q69_kmv_estimate",
    (s, dir) => {
      val docs = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
        .select(col("source"),
          graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      graft.operators.Sketches
        .kmvEstimate(docs, Seq("source"), "fp", k = 16, salt = "kmv")
        .orderBy(col("source"))
    },
    Some(s"""WITH fp AS (SELECT source,
          MD5(${TextQueries.normSql("text")}) AS f FROM documents),
      h AS (SELECT DISTINCT source,
          CAST(${bucketSql15(hashSql("kmv", "f"))} AS BIGINT)
            AS hh
        FROM fp),
      r AS (SELECT source, hh,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh) AS rn
        FROM h)
      SELECT source, MAX(hh) AS kth_min,
        CASE WHEN COUNT(*) < 16 THEN CAST(COUNT(*) AS DOUBLE)
          ELSE 15.0 * 1152921504606846976.0 / CAST(MAX(hh) AS DOUBLE)
          END AS est
      FROM r WHERE rn <= 16 GROUP BY source ORDER BY source"""))

  /** q71 — deterministic source-interleaved training order
    * ([[graft.operators.Interleave]]): integer mixture parts per source
    * → a stride `sched_key` whose ascending order holds every prefix
    * to the target mix. The oracle replays the md5 bucket, the
    * (stratum, bucket, id) composite hash order, and the exact-integer
    * stride arithmetic; it uses the plain per-source window form — the
    * stratified rank equals it by InterleaveSpec's differential — so a
    * drifted stratum or offset fails the hash gate. Both sides build
    * their strides AND their source universe from the same
    * [[graft.operators.Interleave.strides]] derivation so neither can
    * drift.
    */
  private val q71 = {
    val parts: Map[String, Int] =
      (0 until 20).map(n => s"src$n" -> ((n % 4) + 1)).toMap
    val strideCases = graft.operators.Interleave.strides(parts).toSeq
      .sortBy(_._1)
      .map { case (s, st) => s"WHEN '$s' THEN $st" }.mkString(" ")
    val srcList = parts.keys.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    Q("q71_interleave_schedule",
      (s, dir) => {
        graft.operators.Interleave.scheduleMix(
            t(s, dir, "documents"), "doc_id", "source", parts,
            salt = "graft-il", strata = 16)
          .orderBy(col("sched_key"), col("source"), col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
          ${hashSql("graft-il", "doc_id")} AS h FROM documents
          WHERE source IN ($srcList)),
        b AS (SELECT doc_id, source,
            CAST(${bucketSql("h")} AS BIGINT) AS bucket FROM d),
        r AS (SELECT doc_id, source, bucket % 16 AS stratum, bucket
          FROM b),
        k AS (SELECT doc_id, source, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY stratum, bucket, doc_id)
          AS src_rank FROM r)
        SELECT doc_id, source, src_rank,
          (2 * src_rank - 1) * (CASE source $strideCases END) AS sched_key
        FROM k ORDER BY sched_key, source, doc_id"""))
  }

  /** q76 — token-budget-constrained selection
    * ([[Sampling.budgetSelect]]): per source, keep the quality-first
    * prefix (stopword-hit score desc, doc_id tiebreak) whose running
    * token cost fits an 800-token budget. Exact-long cumulative sums;
    * the oracle replays the same window.
    */
  private val q76 = {
    val budget = 800L
    Q("q76_budget_select",
      (s, dir) => {
        import graft.functions.TextFunctions
        val d = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
          .select(col("source"), col("doc_id"),
            TextFunctions.normalizeText(col("text")).as("__nrm"),
            TextFunctions.tokens(col("text")).as("__toks"))
          .select(col("source"), col("doc_id"),
            TextFunctions.tokenCountOf(col("__toks"), col("__nrm"))
              .as("n_tok"),
            TextFunctions.markerHitsOf(col("__toks"), "en").as("score"))
        Sampling.budgetSelect(d, "source", "score", "n_tok", "doc_id",
            budget)
          .withColumnRenamed("cum_cost", "cum_tok")
          .select(col("source"), col("doc_id"), col("score"),
            col("n_tok"), col("cum_tok"))
          .orderBy(col("source"), col("cum_tok"), col("doc_id"))
      },
      Some {
        val n = TextQueries.lenTokSql("toks", "nrm")
        val mh = TextQueries.markerHitsSql("toks", "en")
        s"""WITH nt AS (SELECT source, doc_id,
          ${TextQueries.normSql("text")} AS nrm,
          STRING_SPLIT(${TextQueries.normSql("text")}, ' ') AS toks
          FROM documents),
        sc AS (SELECT source, doc_id, CAST($n AS BIGINT) AS n_tok,
          CAST($mh AS BIGINT) AS score FROM nt),
        src AS (SELECT source, doc_id, score, n_tok,
          SUM(n_tok) OVER (PARTITION BY source
            ORDER BY score DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS cum_tok FROM sc)
        SELECT source, doc_id, score, n_tok, CAST(cum_tok AS BIGINT)
          AS cum_tok
        FROM src WHERE cum_tok <= $budget
        ORDER BY source, cum_tok, doc_id"""
      })
  }

  /** Per-source repetition factors for q87 — full-and-fraction tiers
    * over the 20 sources (2.5 = two passes + a hash-selected half,
    * 0.5 = subsample, 1.0 = pass-through, 1.75 = one + three quarters).
    */
  private val epochFactors: Map[String, Double] =
    (0 until 20).map(n => s"src$n" -> (n % 4 match {
      case 0 => 2.5
      case 1 => 1.0
      case 2 => 0.5
      case _ => 1.75
    })).toMap

  /** q87 — deterministic fractional epoch expansion
    * ([[graft.operators.Sampling.epochExpand]]): the data-recipe
    * repetition step. Zero exchanges — a broadcast map-literal factor
    * lookup plus an in-place explode; the fractional copy reuses the
    * md5-bucket kit so the oracle replays copy counts exactly.
    */
  private val q87 = Q("q87_epoch_expand",
    (s, dir) => {
      Sampling.epochExpand(t(s, dir, "documents"), "doc_id", "source",
        epochFactors, salt = "epoch")
        .select(col("doc_id"), col("epoch"), col("source"))
        .orderBy(col("doc_id"), col("epoch"))
    },
    Some {
      val fullCases = epochFactors.toSeq.sortBy(_._1)
        .map { case (src, f) => s"WHEN '$src' THEN ${math.floor(f).toLong}" }
        .mkString(" ")
      val thrCases = epochFactors.toSeq.sortBy(_._1)
        .map { case (src, f) =>
          s"WHEN '$src' THEN ${math.round((f - math.floor(f)) * Sampling.BucketSpace)}"
        }
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id, source,
          ${hashSql("epoch", "doc_id")} AS h
        FROM documents),
      b AS (SELECT doc_id, source,
          CAST(${bucketSql("h")} AS BIGINT) AS bucket FROM d),
      n AS (SELECT doc_id, source,
          (CASE source $fullCases ELSE 1 END) +
          (CASE WHEN bucket < (CASE source $thrCases ELSE 0 END)
            THEN 1 ELSE 0 END) AS n_copies
        FROM b)
      SELECT doc_id, CAST(UNNEST(RANGE(n_copies)) AS BIGINT) AS epoch,
        source
      FROM n ORDER BY doc_id, epoch"""
    })

  /** q92 — weighted sampling without replacement (Efraimidis–Spirakis
    * exponential keys): 10 docs per source with inclusion probability
    * ∝ n_chars, the deterministic md5-u / quantized-⌊10⁶·ln(u)/w⌋ form.
    * Margin audit (verify skill rule): min distance of any unquantized
    * key to its floor boundary = 9.9e-05 at sf0.01, 3.6e-05 at sf0.1 —
    * ≥ 5 orders above the ~1e-10 cross-engine ln drift bound, so the
    * gate is deterministic, not flaky.
    */
  private val q92 = Q("q92_weighted_sample",
    (s, dir) => {
      Sampling.weightedTopK(t(s, dir, "documents"), "doc_id", "n_chars",
        k = 10, salt = "wrs", strataCol = Some("source"))
        .select(col("doc_id"), col("source"), col("wkey"), col("rk"))
        .orderBy(col("source"), col("rk"))
    },
    Some(s"""WITH d AS (SELECT doc_id, source, n_chars,
        ${hashSql("wrs", "doc_id")} AS h FROM documents),
      b AS (SELECT doc_id, source, n_chars,
        CAST(${bucketSql("h")} AS BIGINT) AS bucket FROM d),
      keyed AS (SELECT doc_id, source,
          CAST(FLOOR(1000000.0 *
            LN((CAST(bucket AS DOUBLE) + 1) / 4294967296.0)
            / CAST(n_chars AS DOUBLE)) AS BIGINT) AS wkey
        FROM b),
      ranked AS (SELECT doc_id, source, wkey,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY wkey DESC, doc_id) AS BIGINT) AS rk
        FROM keyed)
      SELECT doc_id, source, wkey, rk FROM ranked WHERE rk <= 10
      ORDER BY source, rk"""))

  /** q134 — bottom-k uniform-sample quantile sketch (round 11,
    * [[graft.operators.Sketches.bottomKQuantiles]], Cohen & Kaplan
    * 2007): per-language n_chars quantiles from the k=64 rows whose
    * doc_id hashes smallest — the MERGEABLE bounded-state alternative
    * to q47's exact windowed quantiles (which sort the whole group).
    * Rank-discrete index ⌈q·m⌉ in all-integer arithmetic; the
    * md5-derived hash makes the sample — and so the estimate — exactly
    * reproducible in SQL.
    */
  private val q134 = Q("q134_bottomk_quantiles",
    (s, dir) => {
      graft.operators.Sketches.bottomKQuantiles(
          t(s, dir, "documents"), Seq("lang"), "doc_id", "n_chars",
          k = 64, quantiles = Seq(("p25", 1, 4), ("p50", 1, 2),
            ("p75", 3, 4), ("p95", 19, 20)), salt = "bkq")
        .orderBy(col("lang"))
    },
    Some(s"""WITH h AS (SELECT lang, doc_id, n_chars,
          CAST(${bucketSql15(hashSql("bkq", "doc_id"))} AS BIGINT) AS hh
        FROM documents),
      r AS (SELECT lang, n_chars,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh, doc_id)
            AS rn FROM h),
      samp AS (SELECT lang, n_chars FROM r WHERE rn <= 64),
      arr AS (SELECT lang, LIST(n_chars ORDER BY n_chars) AS vs,
          COUNT(*) AS m FROM samp GROUP BY lang)
      SELECT lang, CAST(m AS BIGINT) AS n_sample,
        vs[CAST((1 * m + 3) // 4 AS INT)] AS p25,
        vs[CAST((1 * m + 1) // 2 AS INT)] AS p50,
        vs[CAST((3 * m + 3) // 4 AS INT)] AS p75,
        vs[CAST((19 * m + 19) // 20 AS INT)] AS p95
      FROM arr ORDER BY lang"""))

  /** q146 — pairwise source-vocabulary resemblance from KMV
    * signatures ([[graft.operators.Sketches.kmvResemblance]], Broder
    * 1997, round 11): which sources share vocabulary, answered from
    * one k=16 sketch per source — no pairwise corpus scan; the
    * estimate itself is md5-reproducible, so the oracle replays the
    * bottom-k union/intersection relationally and the ppm ratio
    * hash-matches.
    */
  private val q146 = Q("q146_kmv_resemblance",
    (s, dir) => {
      import org.apache.spark.sql.functions.{explode, length}
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("tok"))
        .filter(length(col("tok")) > 0)
      graft.operators.Sketches
        .kmvResemblance(toks, "source", "tok", k = 16, salt = "resem")
        .orderBy(col("g_a"), col("g_b"))
    },
    Some(s"""WITH tok AS (SELECT DISTINCT source AS g, t FROM
          (SELECT source, UNNEST(STRING_SPLIT(
            ${TextQueries.normSql("text")}, ' ')) AS t FROM documents)
          WHERE LEN(t) > 0),
      h AS (SELECT DISTINCT g,
          CAST(${bucketSql15(hashSql("resem", "t"))} AS BIGINT) AS hh
        FROM tok),
      bk AS (SELECT g, hh FROM (SELECT g, hh,
          ROW_NUMBER() OVER (PARTITION BY g ORDER BY hh) AS rn FROM h)
        WHERE rn <= 16),
      gs AS (SELECT DISTINCT g FROM bk),
      pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b
        ON a.g < b.g),
      ud AS (SELECT DISTINCT p.ga, p.gb, bk.hh FROM pairs p JOIN bk
        ON bk.g = p.ga OR bk.g = p.gb),
      uk AS (SELECT ga, gb, hh FROM (SELECT ga, gb, hh,
          ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY hh) AS rn
          FROM ud) WHERE rn <= 16),
      iv AS (SELECT u.ga, u.gb FROM uk u
        JOIN bk x ON x.g = u.ga AND x.hh = u.hh
        JOIN bk y ON y.g = u.gb AND y.hh = u.hh),
      mm AS (SELECT ga, gb, COUNT(*) AS m FROM uk GROUP BY ga, gb),
      ii AS (SELECT ga, gb, COUNT(*) AS inter FROM iv GROUP BY ga, gb)
      SELECT mm.ga AS g_a, mm.gb AS g_b, CAST(m AS BIGINT) AS m,
        CAST(COALESCE(inter, 0) AS BIGINT) AS inter,
        (1000000 * CAST(COALESCE(inter, 0) AS BIGINT))
          // CAST(m AS BIGINT) AS res_ppm
      FROM mm LEFT JOIN ii ON ii.ga = mm.ga AND ii.gb = mm.gb
      ORDER BY g_a, g_b"""))

  /** q150 — concat-and-chunk sequence packing
    * ([[graft.operators.Packing.packConcat]], round 11): documents
    * hash-bucketed into 8 shards, concatenated in doc_id order within
    * each shard, and the token stream cut into 512-token context
    * blocks — the full placement map (which slice of which document
    * lands at which offset of which block). The oracle replays the
    * prefix-sum + block-intersection arithmetic from scratch on the
    * same md5 shard buckets, so a drifted cut point, a lost slice, or
    * a misordered concatenation all fail the hash. Everything is exact
    * longs on both engines (`div` ⇄ `//`).
    */
  private val q150 = Q("q150_pack_blocks",
    (s, dir) => {
      val withN = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tok"),
        pmod(Sampling.hashBucket(col("doc_id"), "pack"), lit(8L))
          .as("shard"))
      graft.operators.Packing
        .packConcat(withN, "doc_id", "n_tok", "shard", capacity = 512L)
        .orderBy(col("shard"), col("block_id"), col("doc_id"))
    },
    Some(s"""WITH packsrc AS (SELECT doc_id FROM documents),
        $packCtes
      $packSelect"""))

  /** The q150 packing CTE chain over the doc ids in a `packsrc` CTE —
    * shared VERBATIM with q165's split-then-pack composition. CTE
    * names are pack-prefixed so the chain composes with the q123
    * leakage-split chain without collisions.
    */
  private[queries] def packCtes: String = {
    val h = hashSql("pack", "doc_id")
    val nrm = TextQueries.normSql("text")
    val n = TextQueries.lenTokSql("toks", "nrm")
    s"""ptokc AS (SELECT doc_id, h, $n AS n
        FROM (SELECT d.doc_id, $h AS h, STRING_SPLIT($nrm, ' ') AS toks,
          $nrm AS nrm
          FROM documents d JOIN packsrc USING (doc_id))),
      pshard AS (SELECT doc_id, n,
          CAST(${bucketSql("h")} % 8 AS BIGINT) AS shard
        FROM ptokc WHERE n > 0),
      pw AS (SELECT doc_id, shard, n,
          CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id)
            AS BIGINT) AS e
        FROM pshard),
      pspans AS (SELECT doc_id, shard, e - n AS b, e FROM pw),
      pblocks AS (SELECT doc_id, shard, b, e,
          UNNEST(generate_series(b // 512, (e - 1) // 512)) AS blk
        FROM pspans)"""
  }

  /** The final SELECT over [[packCtes]]' `pblocks`. */
  private[queries] def packSelect: String =
    """SELECT shard, blk AS block_id, doc_id,
        GREATEST(b, blk * 512) - b AS doc_off,
        GREATEST(b, blk * 512) - blk * 512 AS block_off,
        LEAST(e, (blk + 1) * 512) - GREATEST(b, blk * 512) AS len
      FROM pblocks ORDER BY shard, block_id, doc_id"""

  /** q165 — the TRAIN-SHARD BUILD composition (round 11): q123's
    * leakage-free split (near-dup clusters keyed by their
    * representative so no duplicate straddles train/test) filtered to
    * the train split, then q150's concat-and-chunk packing into
    * 512-token context blocks — the two-stage path an actual training
    * run takes from a raw corpus to packed shards. Oracle = BOTH
    * chains verbatim ([[graft.queries.TextQueries.leakageCtes]] +
    * [[packCtes]]) composed through one `packsrc` CTE, so the gate
    * certifies the INTERPLAY: a split drift repacks every downstream
    * block, a packing drift moves a cut — either fails the hash.
    */
  private val q165 = Q("q165_split_pack_train",
    (s, dir) => {
      import graft.operators.{Dedup, Packing}
      val docs = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text",
        shingleN = 3, k = 16, bands = 4)
      val pairs = Dedup.verifyJaccard(cands, docs, "doc_id", "text",
        shingleN = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val train = Sampling.assignSplitsLeakageFree(docs, "doc_id",
          labels, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          salt = "graft")
        .filter(col("split") === "train")
      val withN = train.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tok"),
        pmod(Sampling.hashBucket(col("doc_id"), "pack"), lit(8L))
          .as("shard"))
      Packing.packConcat(withN, "doc_id", "n_tok", "shard",
          capacity = 512L)
        .orderBy(col("shard"), col("block_id"), col("doc_id"))
    },
    Some {
      val trainBound = math.round(0.8 * Sampling.BucketSpace)
      s"""WITH RECURSIVE ${TextQueries.leakageCtes},
        packsrc AS (SELECT doc_id FROM lb WHERE bucket < $trainBound),
        $packCtes
      $packSelect"""
    })

  /** q171 — deterministic Poisson bootstrap replicate means
    * ([[graft.operators.Bootstrap.replicateMeans]], round 12,
    * Chamandy 2012): 64 single-pass resampling replicates of the mean
    * order value in exact micro-cents; the oracle replays the 60-bit
    * uniform digit-by-digit and the SAME scaled Poisson(1) CDF
    * threshold ladder (integer constants — no transcendental
    * evaluated by either engine). The CI over these means is
    * [[graft.operators.Bootstrap.ci]] (spec-pinned rank form).
    */
  private val q171 = Q("q171_poisson_bootstrap",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Bootstrap.replicateMeans(o, "o_orderkey",
          "cents", replicates = 64, salt = "boot")
        .orderBy(col("b"))
    },
    Some {
      val h = hashSql("boot", "o_orderkey")
      val u = graft.operators.Bootstrap.splitMixUniformSql(
        "CAST(seed AS HUGEINT)", "CAST(b AS HUGEINT)")
      s"""WITH r AS (SELECT o_orderkey,
          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x, $h AS h
        FROM orders),
      sd AS (SELECT x, ${bucketSql15("h")} AS seed FROM r),
      rows_b AS (SELECT x, seed, g.b FROM sd,
          (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS b) g),
      u AS (SELECT x, b, CAST($u AS BIGINT) AS u FROM rows_b),
      w AS (SELECT x, b,
          ${graft.operators.Bootstrap.poissonOneWeightSql("u")} AS w
        FROM u)
      SELECT CAST(b AS BIGINT) AS b, CAST(SUM(w) AS BIGINT) AS n_eff,
        CAST((1000000 * SUM(w * x)) // SUM(w) AS BIGINT) AS mean_micro
      FROM w GROUP BY b ORDER BY b"""
    })

  /** q186 — the bootstrap percentile interval itself
    * ([[graft.operators.Bootstrap.ci]], round 12): the 95% rank-based
    * CI over q171's 64 replicate means — one audit row
    * (n_replicates, lo_micro, hi_micro); the oracle replays the whole
    * replicate chain then the discrete rank cut.
    */
  private val q186 = Q("q186_bootstrap_ci",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val means = graft.operators.Bootstrap.replicateMeans(o,
        "o_orderkey", "cents", replicates = 64, salt = "boot")
      graft.operators.Bootstrap.ci(means, alpha = 0.025)
    },
    Some {
      val h = hashSql("boot", "o_orderkey")
      val u = graft.operators.Bootstrap.splitMixUniformSql(
        "CAST(seed AS HUGEINT)", "CAST(b AS HUGEINT)")
      // loRk = max(1, ceil(0.025*64)) = 2 ; hiRk = ceil(0.975*64) = 63
      s"""WITH r AS (SELECT o_orderkey,
          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x, $h AS h
        FROM orders),
      sd AS (SELECT x, ${bucketSql15("h")} AS seed FROM r),
      rows_b AS (SELECT x, seed, g.b FROM sd,
          (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS b) g),
      u AS (SELECT x, b, CAST($u AS BIGINT) AS u FROM rows_b),
      w AS (SELECT x, b,
          ${graft.operators.Bootstrap.poissonOneWeightSql("u")} AS w
        FROM u),
      m AS (SELECT b, CAST((1000000 * SUM(w * x)) // SUM(w) AS BIGINT)
          AS mean_micro FROM w GROUP BY b),
      rk AS (SELECT mean_micro, ROW_NUMBER() OVER
          (ORDER BY mean_micro, b) AS rn FROM m)
      SELECT CAST(64 AS BIGINT) AS n_replicates,
        CAST(MIN(mean_micro) AS BIGINT) AS lo_micro,
        CAST(MAX(mean_micro) AS BIGINT) AS hi_micro
      FROM rk WHERE rn = 2 OR rn = 63"""
    })

  /** q191 — grouped Poisson bootstrap CIs
    * ([[graft.operators.Bootstrap.replicateMeansBy]]/[[graft.operators.Bootstrap.ciBy]],
    * round 12): per-priority 95% intervals on mean order value, every
    * segment's 64 replicates computed in the SAME single pass.
    */
  private val q191 = Q("q191_bootstrap_by_group",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val means = graft.operators.Bootstrap.replicateMeansBy(o,
        "o_orderpriority", "o_orderkey", "cents", replicates = 64,
        salt = "boot")
      graft.operators.Bootstrap.ciBy(means, "o_orderpriority",
          alpha = 0.025)
        .orderBy(col("o_orderpriority"))
    },
    Some {
      val h = hashSql("boot", "o_orderkey")
      val u = graft.operators.Bootstrap.splitMixUniformSql(
        "CAST(seed AS HUGEINT)", "CAST(b AS HUGEINT)")
      s"""WITH r AS (SELECT o_orderpriority AS g, o_orderkey,
          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x, $h AS h
        FROM orders),
      sd AS (SELECT g, x, ${bucketSql15("h")} AS seed FROM r),
      rows_b AS (SELECT g, x, seed, gb.b FROM sd,
          (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS b) gb),
      u AS (SELECT g, x, b, CAST($u AS BIGINT) AS u FROM rows_b),
      w AS (SELECT g, x, b,
          ${graft.operators.Bootstrap.poissonOneWeightSql("u")} AS w
        FROM u),
      m AS (SELECT g, b,
          CAST((1000000 * SUM(w * x)) // SUM(w) AS BIGINT)
            AS mean_micro
        FROM w GROUP BY g, b HAVING SUM(w) > 0),
      rk AS (SELECT g, b, mean_micro,
          ROW_NUMBER() OVER (PARTITION BY g
            ORDER BY mean_micro, b) AS rn,
          COUNT(*) OVER (PARTITION BY g) AS n FROM m)
      SELECT g AS o_orderpriority,
        CAST(MAX(n) AS BIGINT) AS n_replicates,
        CAST(MIN(CASE WHEN rn = GREATEST(1, CEIL(0.025 * n))
          THEN mean_micro END) AS BIGINT) AS lo_micro,
        CAST(MAX(CASE WHEN rn = CEIL(0.975 * n)
          THEN mean_micro END) AS BIGINT) AS hi_micro
      FROM rk GROUP BY g ORDER BY o_orderpriority"""
    })

  /** q205 — sample-ratio-mismatch check
    * ([[graft.operators.Sampling.srmCheck]], round 12): the q40
    * train/val/test assignment audited against its EXACT bucket
    * spans — per-split χ² terms as exact integrals; the
    * experimentation guardrail in front of every split-keyed metric.
    */
  private val q205 = Q("q205_srm_check",
    (s, dir) =>
      Sampling.srmCheck(t(s, dir, "documents"), "doc_id", splits,
          salt = "graft")
        .orderBy(col("split")),
    Some {
      val bounds = splitBounds.map(_._2)
      val spans = splits.map(_._1)
        .zip(bounds.zip(0L +: bounds.init).map { case (h, l) => h - l })
      val holdout = Sampling.BucketSpace - bounds.last
      val all0 = if (holdout > 0) spans :+ ("[HOLDOUT]" -> holdout)
        else spans
      val spanRows = all0.map { case (n, sp) => s"('$n', $sp)" }
        .mkString(", ")
      val cases = splitBounds
        .map { case (n, b) => s"WHEN bucket < $b THEN '$n'" }
        .mkString(" ")
      val B = Sampling.BucketSpace
      s"""WITH d AS (SELECT ${hashSql("graft", "doc_id")} AS h
          FROM documents),
        b AS (SELECT CAST(${bucketSql("h")} AS BIGINT) AS bucket
          FROM d),
        a AS (SELECT COALESCE(CASE $cases ELSE NULL END, '[HOLDOUT]')
            AS split FROM b),
        o AS (SELECT split, COUNT(*) AS n_obs FROM a GROUP BY split),
        sp AS (SELECT * FROM (VALUES $spanRows) v(split, span)),
        nn AS (SELECT SUM(n_obs)::HUGEINT AS n FROM o)
      SELECT sp.split, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
        CAST(sp.span AS BIGINT) AS span,
        CAST((1000000::HUGEINT
          * ($B::HUGEINT * COALESCE(o.n_obs, 0) - n * sp.span)
          * ($B::HUGEINT * COALESCE(o.n_obs, 0) - n * sp.span))
          // ($B::HUGEINT * n * sp.span) AS BIGINT)
          AS chi2_term_micro
      FROM sp LEFT JOIN o ON sp.split = o.split, nn
      ORDER BY sp.split"""
    })

  /** q220 — effective sample size of a weighted frame
    * ([[graft.operators.Sampling.essWeights]], round 12, Kish 1965):
    * per language, how many equal-weight documents the n_chars-weighted
    * corpus is actually worth — the design-effect check on every
    * weighted mix; divide chain Cauchy–Schwarz-bounded (ess ≤ n).
    */
  private val q220 = Q("q220_ess_weights",
    (s, dir) =>
      Sampling.essWeights(t(s, dir, "documents"), "lang", "n_chars")
        .withColumnRenamed("grp", "lang")
        .orderBy(col("lang")),
    Some("""WITH w AS (SELECT lang, n_chars::HUGEINT AS w
        FROM documents WHERE lang IS NOT NULL AND n_chars > 0),
      t AS (SELECT lang, COUNT(*)::HUGEINT AS m, SUM(w) AS s1,
          SUM(w*w) AS s2 FROM w GROUP BY lang)
      SELECT lang, CAST(m AS BIGINT) AS n_rows,
        CAST(s1 AS BIGINT) AS sum_w,
        CAST((s1*s1) // s2 AS BIGINT) AS ess_rows,
        CAST((((s1*s1) // s2) * 1000000) // m AS BIGINT) AS ess_ppm
      FROM t ORDER BY lang"""))

  val all: Seq[Q] = Seq(q40, q41, q45, q53, q63, q64, q68, q69, q71, q76,
    q87, q92, q134, q146, q150, q165, q171, q186, q191, q205, q220)
}
