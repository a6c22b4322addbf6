package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.functions.TextFunctions
import graft.operators.Dedup

/** End-to-end training-corpus preparation passes — the composition the
  * north-star operators exist for, each as one declarative plan.
  */
object CorpusQueries {

  private def normSql(c: String) =
    s"TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER($c), '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))"
  private def nTokSql(c: String) = {
    val nrm = normSql(c)
    s"(CASE WHEN LENGTH($nrm) = 0 THEN CAST(0 AS BIGINT) ELSE LEN(STRING_SPLIT($nrm, ' ')) END)"
  }

  /** The Gopher quality gate as one SQL predicate over a frame carrying
    * (text, nrm, toks) — `QualityRules.keep`'s mirror, shared by q50
    * and q57 so the two compositions can't drift.
    */
  private def keepPredSql(cfg: graft.functions.QualityRules.Config): String = {
    val n = TextQueries.lenTokSql("toks", "nrm")
    s"""($n BETWEEN ${cfg.minWords} AND ${cfg.maxWords}
      AND (CASE WHEN $n > 0
        THEN CAST(LENGTH(REPLACE(nrm, ' ', '')) AS DOUBLE)
          / CAST($n AS DOUBLE) ELSE 0.0 END)
        BETWEEN ${cfg.minMeanWordLen} AND ${cfg.maxMeanWordLen}
      AND (CASE WHEN $n > 0 THEN
        CAST((LENGTH(text) - LENGTH(REPLACE(text, '#', ''))) +
          (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3
          AS DOUBLE) / CAST($n AS DOUBLE) ELSE 0.0 END)
        <= ${cfg.maxSymbolRatio}
      AND (CASE WHEN $n > 0 THEN CAST(LEN(LIST_FILTER(toks,
          x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        / CAST($n AS DOUBLE) ELSE 0.0 END)
        >= ${cfg.minAlphaWordFrac}
      AND CAST(${TextQueries.markerHitsSql("toks", "en")} AS BIGINT)
        >= ${cfg.minStopwordHits})"""
  }

  /** q35 — the classic pretraining cleaning pass: quality filter
    * (length + alpha ratio), then exact dedup (keep min doc_id per
    * fingerprint), then per-source survivor stats. Narrow filter →
    * one dedup exchange → one stats exchange.
    */
  private val q35 = Q("q35_corpus_clean",
    (s, dir) => {
      val d = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
        .withColumn("n_tok", TextFunctions.tokenCount(col("text")))
        .withColumn("alpha",
          length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
            length(col("text")).cast("double"))
        .filter(col("n_tok") >= 20 && col("alpha") >= 0.5)
      val survivors = Dedup.exactSurvivors(d, "doc_id", "text")
        .select(col("keep_id"))
      survivors.join(t(s, dir, "documents"),
          survivors("keep_id") === col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    },
    Some(s"""WITH filtered AS (
        SELECT doc_id, text, source, n_chars FROM documents
        WHERE ${nTokSql("text")} >= 20
          AND (CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g'))
            AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE)) >= 0.5),
      survivors AS (
        SELECT MIN(doc_id) AS keep_id FROM filtered
        GROUP BY MD5(${normSql("text")}))
      SELECT d.source, COUNT(*) AS n_docs,
        CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
      FROM survivors s JOIN documents d ON d.doc_id = s.keep_id
      GROUP BY d.source ORDER BY d.source"""))

  /** q36 — sequence packing: assign documents to fixed-token-budget
    * packs via a running total windowed WITHIN each source shard (a
    * global ordering would serialize on one task; per-shard packing is
    * the scale form). The running sum is exact integer arithmetic; pack
    * id is a closed-form projection of it (same trick as the spatial
    * grid). One exchange (the window partition).
    */
  private val q36 = Q("q36_sequence_packing",
    (s, dir) => {
      val budget = 2048L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .withColumn("n_tok", TextFunctions.tokenCount(col("text")))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tok")).cast("double") / budget)
            .cast("long"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("source"), col("pack_id"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, source, ${nTokSql("text")} AS n_tok FROM documents),
      packed AS (
        SELECT doc_id, source, n_tok,
          SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM toks)
      SELECT source,
        CAST(FLOOR(CAST(cum - n_tok AS DOUBLE) / 2048) AS BIGINT)
          AS pack_id,
        COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS first_doc
      FROM packed GROUP BY source, pack_id ORDER BY source, pack_id"""))

  /** q50 — the full curation pipeline under one oracle: Gopher quality
    * gate → exact dedup survivors → domain re-weighting → train/val/test
    * split → per-(source, split) stats. Every stage is the portable
    * operator proven alone in q42/q16/q41/q40; this gates their
    * COMPOSITION (filter→dedup→mix→split ordering matters and the
    * oracle replays it stage for stage). Plan: narrow gate, one dedup
    * exchange, narrow mix+split, one stats exchange.
    */
  private val q50 = {
    import graft.functions.QualityRules
    import graft.operators.Sampling
    val cfg = QualityRules.Config()
    val rates: Map[String, Double] =
      (0 until 20).map(n => s"src$n" -> (if (n % 2 == 0) 1.0 else 0.5)).toMap
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    Q("q50_curation_pipeline",
      (s, dir) => {
        val raw = t(s, dir, "documents")
        // repartition only the CPU-heavy gate path; the join-back scan
        // needs no redistribution (broadcast here, AQE-chosen SMJ at scale)
        val kept = QualityRules.gate(
          raw.repartition(graft.Par.n, col("doc_id")), "text", cfg)
        val surv = Dedup.exactSurvivors(kept, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        val enriched = surv.join(raw, Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("n_chars"))
        val mixed = Sampling.mixDomains(enriched, "source", "doc_id",
          rates, salt = "cur")
        Sampling.assignSplits(mixed, "doc_id", splits, salt = "cursplit")
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("source"), col("split"))
      },
      Some {
        val keepPred = keepPredSql(cfg)
        val rateCases = rates.toSeq.sortBy(_._1)
          .map { case (src, r) =>
            s"WHEN '$src' THEN ${math.round(r * Sampling.BucketSpace)}"
          }.mkString(" ")
        val bounds = splits.scanLeft(0.0)(_ + _._2).tail
          .map(c => math.round(c * Sampling.BucketSpace))
        val splitCases = splits.map(_._1).zip(bounds)
          .map { case (nm, b) => s"WHEN sb < $b THEN '$nm'" }.mkString(" ")
        s"""WITH nt AS (SELECT doc_id, text, source, n_chars,
            ${TextQueries.normSql("text")} AS nrm,
            STRING_SPLIT(${TextQueries.normSql("text")}, ' ') AS toks
          FROM documents),
        kept AS (SELECT doc_id, text, nrm FROM nt WHERE $keepPred),
        surv AS (SELECT MIN(doc_id) AS doc_id FROM kept
          GROUP BY MD5(nrm)),
        enriched AS (SELECT d.doc_id, d.source, d.n_chars,
            ${SamplingQueries.hashSql("cur", "d.doc_id")} AS hm,
            ${SamplingQueries.hashSql("cursplit", "d.doc_id")} AS hs
          FROM surv s JOIN documents d ON d.doc_id = s.doc_id),
        mixed AS (SELECT doc_id, source, n_chars,
            CAST(${SamplingQueries.bucketSql("hs")} AS BIGINT) AS sb
          FROM enriched
          WHERE CAST(${SamplingQueries.bucketSql("hm")} AS BIGINT) <
            (CASE source $rateCases ELSE 0 END))
        SELECT source, CASE $splitCases ELSE NULL END AS split,
          COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM mixed GROUP BY source, split ORDER BY source, split"""
      })
  }

  /** q56 — benchmark decontamination ([[graft.operators.Decontaminate]]):
    * corpus docs scored by distinct-3-gram overlap against a held-out
    * "benchmark" slice (doc_id ≡ 0 mod 97 — standing in for an eval
    * set, which at production scale is the tiny broadcast side). The
    * oracle replays shingling, the benchmark union, and the left-join
    * overlap count.
    */
  private val q56 = Q("q56_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontaminate.overlap(
          corpus = docs.filter(col("doc_id") % 97 =!= 0),
          bench = docs.filter(col("doc_id") % 97 === 0),
          idCol = "doc_id", textCol = "text", shingleN = 3,
          flagFrac = 0.05)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      sh AS (SELECT doc_id,
          UNNEST(${TextQueries.shinglesSql("toks", 3)}) AS sh FROM nt),
      bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
      corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0)
      SELECT corp.doc_id, COUNT(*) AS n_shingles,
        COUNT(bench.sh) AS n_contaminated,
        CAST(COUNT(bench.sh) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS contamination_frac,
        CAST((CAST(COUNT(bench.sh) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
          >= 0.05 AS BIGINT) AS flagged
      FROM corp LEFT JOIN bench ON corp.sh = bench.sh
      GROUP BY corp.doc_id ORDER BY corp.doc_id"""))

  /** q57 — curation v2: the full modern pretraining hygiene chain under
    * ONE oracle — Gopher quality gate → repetition gate
    * ([[graft.functions.RepetitionRules]]) → benchmark decontamination
    * ([[graft.operators.Decontaminate]]) → exact dedup → per-source
    * stats. Each stage is the operator proven alone in
    * q42/q55/q56/q16; this gates their COMPOSITION (the oracle replays
    * it stage for stage, and each stage removes documents at sf0.01 so
    * a mis-ordered or short-circuited stage changes the hash).
    * Plan: narrow quality gate on the scan, doc_id-keyed repetition +
    * decontamination stages reusing one partitioning, one fingerprint
    * exchange, one stats exchange.
    */
  private val q57 = {
    import graft.functions.{QualityRules, RepetitionRules}
    val qCfg = QualityRules.Config()
    val rCfg = RepetitionRules.Config()
    Q("q57_curation_v2",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        val bench = docs.filter(col("doc_id") % 97 === 0)
        // quality feeds two consumers (the repetition measures and the
        // gated join) and gated feeds two more (decontamination and
        // the clean join): unpinned, the scan + Gopher gate +
        // tokenization chain re-executed 3x inside the one action
        val quality = QualityRules.gate(corpus, "text", qCfg).persist()
        val rep = RepetitionRules.measures(quality, "doc_id", "text", rCfg)
          .filter(col("keep") === 1L).select(col("doc_id"))
        val gated = quality.join(rep, Seq("doc_id")).persist()
        val dec = graft.operators.Decontaminate
          .overlap(gated, bench, "doc_id", "text", shingleN = 3,
            flagFrac = 0.05)
          .filter(col("flagged") === 0L).select(col("doc_id"))
        val clean = gated.join(dec, Seq("doc_id"))
        val surv = graft.operators.Dedup
          .exactSurvivors(clean, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        surv.join(docs, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("source"))
      },
      Some {
        import graft.queries.{TextQueries => TQ}
        s"""WITH nt AS (SELECT doc_id, text, source, n_chars,
            ${normSql("text")} AS nrm,
            STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
        q AS (SELECT * FROM nt WHERE doc_id % 97 <> 0
          AND ${keepPredSql(qCfg)}),
        gg AS (SELECT doc_id, ${TQ.ngramsSql("toks", rCfg.topN)} AS gt,
            ${TQ.ngramsSql("toks", rCfg.dupN)} AS gd FROM q),
        g AS (SELECT doc_id, UNNEST(CASE WHEN LEN(gt) + LEN(gd) = 0
            THEN [struct_pack(n := 0, gram := '')]
            ELSE LIST_CONCAT(
              LIST_TRANSFORM(gt, x -> struct_pack(n := ${rCfg.topN}, gram := x)),
              LIST_TRANSFORM(gd, x -> struct_pack(n := ${rCfg.dupN}, gram := x)))
            END) AS x
          FROM gg),
        c AS (SELECT doc_id, x.n AS n, x.gram AS gram, COUNT(*) AS cnt,
            COUNT(*) * LENGTH(REPLACE(x.gram, ' ', '')) AS chars
          FROM g GROUP BY doc_id, x.n, x.gram),
        a AS (SELECT doc_id,
            MAX(CASE WHEN n = ${rCfg.topN}
              THEN struct_pack(cnt := cnt, gram := gram, chars := chars)
              END) AS top,
            SUM(CASE WHEN n = ${rCfg.topN} THEN chars END) AS top_all,
            SUM(CASE WHEN n = ${rCfg.dupN} THEN chars END) AS dup_all,
            SUM(CASE WHEN n = ${rCfg.dupN} AND cnt > 1 THEN chars END)
              AS dup_dup
          FROM c GROUP BY doc_id),
        rep AS (SELECT doc_id FROM a
          WHERE COALESCE(CAST(top.chars AS DOUBLE) / CAST(top_all AS DOUBLE),
              0.0) <= ${rCfg.maxTopGramCharFrac}
            AND COALESCE(CAST(COALESCE(dup_dup, 0) AS DOUBLE) /
              CAST(dup_all AS DOUBLE), 0.0) <= ${rCfg.maxDupGramCharFrac}),
        gated AS (SELECT q.* FROM q JOIN rep ON q.doc_id = rep.doc_id),
        csh AS (SELECT doc_id,
            UNNEST(${TQ.shinglesSql("toks", 3)}) AS sh FROM gated),
        bench AS (SELECT DISTINCT sh FROM (SELECT
            UNNEST(${TQ.shinglesSql("toks", 3)}) AS sh
          FROM nt WHERE doc_id % 97 = 0)),
        dec AS (SELECT csh.doc_id FROM csh
          LEFT JOIN bench ON csh.sh = bench.sh
          GROUP BY csh.doc_id
          HAVING (CAST(COUNT(bench.sh) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
            < 0.05),
        clean AS (SELECT gated.* FROM gated
          JOIN dec ON gated.doc_id = dec.doc_id),
        surv AS (SELECT MIN(doc_id) AS doc_id FROM clean
          GROUP BY MD5(nrm))
        SELECT d.source, COUNT(*) AS n_docs,
          CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
        FROM surv s JOIN documents d ON d.doc_id = s.doc_id
        GROUP BY d.source ORDER BY d.source"""
      })
  }

  /** q62 — per-source quantile-band trim
    * ([[graft.operators.Profile.quantileTrim]]): keep each source's
    * docs between its own P05 and P95 of `n_chars` — adaptive outlier
    * trimming where every source gets thresholds from its own
    * distribution (fixed global cutoffs misfire across heterogeneous
    * sources). The oracle replays the rank-band rule.
    */
  private val q62 = Q("q62_quantile_trim",
    (s, dir) => {
      graft.operators.Profile.quantileTrim(
          t(s, dir, "documents"), "source", "n_chars", "doc_id",
          lo = 0.05, hi = 0.95)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("source"))
    },
    Some("""WITH r AS (SELECT doc_id, source, n_chars,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
          AS rn,
        COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents)
      SELECT source, COUNT(*) AS n_kept,
        CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        CAST(MAX(n_chars) AS BIGINT) AS max_chars,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM r WHERE rn >= CEIL(0.05 * n) AND rn <= FLOOR(0.95 * n)
      GROUP BY source ORDER BY source"""))

  /** q70 — duplicated-passage (boilerplate) removal
    * ([[graft.operators.Boilerplate]]): drop every `segWords`-token
    * segment whose corpus-wide frequency reaches `minDf`, keep each
    * document's unique remainder — CCNet/C4-style segment-granularity
    * cleaning, orthogonal to whole-document dedup (q16/q61 elect a
    * survivor; here every doc keeps its non-boilerplate text). The
    * oracle replays the explode → df → drop-list left join →
    * order-restoring reassembly stage for stage.
    */
  private val q70 = Q("q70_boilerplate_segments",
    (s, dir) => {
      graft.operators.Boilerplate.removeSegments(
          t(s, dir, "documents"), "doc_id", "text",
          segWords = 8, minDf = 2)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w
        FROM documents),
      segs AS (SELECT doc_id, i AS idx,
          ARRAY_TO_STRING(w[(8*i+1):(8*i+8)], ' ') AS seg
        FROM toks CROSS JOIN
          UNNEST(RANGE(CAST(CEIL(LEN(w) / 8.0) AS BIGINT))) AS u(i)),
      boiler AS (SELECT MD5(seg) AS h FROM segs
        GROUP BY 1 HAVING COUNT(*) >= 2)
      SELECT s.doc_id,
        COALESCE(STRING_AGG(s.seg, ' ' ORDER BY s.idx)
          FILTER (WHERE b.h IS NULL), '') AS clean_text,
        COUNT(*) AS n_segments,
        COUNT(*) FILTER (WHERE b.h IS NOT NULL) AS n_dropped
      FROM segs s LEFT JOIN boiler b ON MD5(s.seg) = b.h
      GROUP BY s.doc_id ORDER BY s.doc_id"""))

  /** q72 — importance-weighted data selection
    * ([[graft.operators.Importance]], DSIR-style): score raw docs by
    * the add-1-smoothed hashed-unigram+bigram log-likelihood ratio
    * against a target corpus (src0-2 as the "high-quality" seed). The
    * oracle replays every stage — normalization, the n-gram multiset,
    * the md5 bucket, smoothing, the ⌊10⁶·ln⌋ quantization (formula
    * order mirrored verbatim; boundary margin audited ≥ 5·10⁻⁴ at
    * every gate SF vs ~10⁻¹⁰ cross-library ln drift), and the exact
    * long score sum — so a drifted count, hash, or weight fails the
    * hash gate.
    */
  private val q72 = {
    val k = 64
    val bSql = SamplingQueries.bucketSql(
      SamplingQueries.hashSql("dsir", "g"))
    Q("q72_importance_scores",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tgt = docs.filter(col("source").isin("src0", "src1", "src2"))
        val raw = docs.filter(!col("source").isin("src0", "src1", "src2"))
        graft.operators.Importance
          .dsirScores(tgt, raw, "doc_id", "text", k = k, salt = "dsir")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tnt AS (SELECT doc_id,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents
          WHERE source IN ('src0', 'src1', 'src2')),
        rnt AS (SELECT doc_id,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents
          WHERE source NOT IN ('src0', 'src1', 'src2')),
        tg AS (SELECT UNNEST(${TextQueries.ngramsSql("toks", 1)}
          || ${TextQueries.ngramsSql("toks", 2)}) AS g FROM tnt),
        rg AS (SELECT doc_id, UNNEST(${TextQueries.ngramsSql("toks", 1)}
          || ${TextQueries.ngramsSql("toks", 2)}) AS g FROM rnt),
        tb AS (SELECT CAST($bSql % $k AS BIGINT) AS b, COUNT(*) AS ct
          FROM tg GROUP BY 1),
        rb AS (SELECT CAST($bSql % $k AS BIGINT) AS b, COUNT(*) AS cr
          FROM rg GROUP BY 1),
        u AS (SELECT b FROM range(0, $k) t(b)),
        c AS (SELECT u.b, COALESCE(tb.ct, 0) AS ct,
            COALESCE(rb.cr, 0) AS cr
          FROM u LEFT JOIN tb ON u.b = tb.b LEFT JOIN rb ON u.b = rb.b),
        tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM c),
        w AS (SELECT b, CAST(FLOOR(1000000 * LN(
            (CAST(ct + 1 AS DOUBLE) / CAST(cr + 1 AS DOUBLE))
            * (CAST(nr + $k AS DOUBLE) / CAST(nt + $k AS DOUBLE))))
          AS BIGINT) AS w FROM c, tot),
        sb AS (SELECT doc_id, CAST($bSql % $k AS BIGINT) AS b FROM rg),
        sc AS (SELECT sb.doc_id AS doc_id, COUNT(*) AS n_feats,
            SUM(w.w) AS score
          FROM sb JOIN w ON sb.b = w.b GROUP BY sb.doc_id)
      SELECT r.doc_id AS doc_id, COALESCE(sc.n_feats, 0) AS n_feats,
        CAST(COALESCE(sc.score, 0) AS BIGINT) AS score
      FROM (SELECT DISTINCT doc_id FROM rnt) r
        LEFT JOIN sc ON r.doc_id = sc.doc_id
      ORDER BY doc_id"""))
  }

  /** q74 — CCNet-style perplexity scoring
    * ([[graft.operators.Perplexity]]): every document's total quantized
    * log-probability under an add-1-smoothed bigram LM trained on the
    * src0-2 target slice. The oracle rebuilds the model (bigram +
    * unigram counts, exact vocab size) and the per-transition
    * `⌊10⁶·ln⌋` quantization with verbatim formula order; margins
    * audited ≥ 4·10⁻⁴ at every gate SF, so the exact-long sums
    * hash-match deterministically.
    */
  private val q74 = Q("q74_perplexity_scores",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Perplexity.bigramScores(
          docs, docs.filter(col("source").isin("src0", "src1", "src2")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tnt AS (SELECT STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents
          WHERE source IN ('src0', 'src1', 'src2')),
        bc AS (SELECT g, COUNT(*) AS c12 FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
            FROM tnt WHERE LEN(toks) >= 2) GROUP BY g),
        uc AS (SELECT w, COUNT(*) AS c1 FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 1)}) AS w
            FROM tnt) GROUP BY w),
        v AS (SELECT COUNT(*) AS v FROM uc),
        cnt AS (SELECT doc_id, STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents),
        pg AS (SELECT doc_id,
            UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
          FROM cnt WHERE LEN(toks) >= 2),
        scored AS (SELECT pg.doc_id AS doc_id,
            CAST(FLOOR(1000000 * LN(
              CAST(COALESCE(bc.c12, 0) + 1 AS DOUBLE) /
              CAST(COALESCE(uc.c1, 0) + (SELECT v FROM v) AS DOUBLE)))
              AS BIGINT) AS q
          FROM pg LEFT JOIN bc ON pg.g = bc.g
            LEFT JOIN uc ON STRING_SPLIT(pg.g, ' ')[1] = uc.w),
        agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
            SUM(q) AS logprob FROM scored GROUP BY doc_id)
      SELECT d.doc_id AS doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
        CAST(COALESCE(a.logprob, 0) AS BIGINT) AS logprob
      FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY doc_id"""))

  /** q114 — stupid-backoff LM scoring ([[graft.operators.Lm]]): every
    * document's quantized score under a Brants et al. 2007
    * stupid-backoff bigram model trained on the src0-1 slice — seen
    * bigrams score `ln(c12/c1)`, unseen back off to `ln(0.4·c2/N)`,
    * OOV hits the `ln(0.4/V)` floor, so docs from the other sources
    * exercise all three branches. The oracle rebuilds the counts,
    * N/V, and the verbatim three-way CASE; margins audited in
    * LmSpec, exact-long sums hash-match.
    */
  private val q114 = Q("q114_stupid_backoff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Lm.stupidBackoffScores(
          docs, docs.filter(col("source").isin("src0", "src1")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(stupidBackoffOracleSql))

  /** q114's oracle body, shared VERBATIM with q140 (served twin — the
    * q138/q125/q130 contract: a persisted-model serve must gate
    * against the exact oracle its inline form does).
    */
  private[queries] def stupidBackoffOracleSql: String =
    s"""WITH tnt AS (SELECT STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents WHERE source IN ('src0', 'src1')),
        bc AS (SELECT g, COUNT(*) AS c12 FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
            FROM tnt WHERE LEN(toks) >= 2) GROUP BY g),
        uc AS (SELECT w, COUNT(*) AS c FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 1)}) AS w
            FROM tnt) GROUP BY w),
        nv AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM uc),
        cnt AS (SELECT doc_id, STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents),
        pg AS (SELECT doc_id,
            UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
          FROM cnt WHERE LEN(toks) >= 2),
        j AS (SELECT pg.doc_id AS doc_id, pg.g AS g, bc.c12 AS c12,
            u1.c AS c1, u2.c AS c2
          FROM pg LEFT JOIN bc ON pg.g = bc.g
            LEFT JOIN uc u1 ON STRING_SPLIT(pg.g, ' ')[1] = u1.w
            LEFT JOIN uc u2 ON STRING_SPLIT(pg.g, ' ')[2] = u2.w),
        scored AS (SELECT doc_id,
            CASE WHEN c12 IS NOT NULL THEN 1 ELSE 0 END AS hit,
            CASE WHEN c12 IS NULL AND c2 IS NOT NULL
              THEN 1 ELSE 0 END AS back,
            CAST(FLOOR(1000000 * CASE
              WHEN c12 IS NOT NULL THEN
                LN(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))
              WHEN c2 IS NOT NULL THEN LN(0.4 * (CAST(c2 AS DOUBLE) /
                CAST((SELECT n FROM nv) AS DOUBLE)))
              ELSE LN(0.4 / CAST((SELECT v FROM nv) AS DOUBLE))
              END) AS BIGINT) AS q
          FROM j),
        agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
            SUM(hit) AS n_hit, SUM(back) AS n_backoff,
            SUM(q) AS sb_score FROM scored GROUP BY doc_id)
      SELECT d.doc_id AS doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
        CAST(COALESCE(a.n_hit, 0) AS BIGINT) AS n_hit,
        CAST(COALESCE(a.n_backoff, 0) AS BIGINT) AS n_backoff,
        CAST(COALESCE(a.sb_score, 0) AS BIGINT) AS sb_score
      FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY doc_id"""

  /** q140 — stupid-backoff scoring SERVED from the persisted n-gram
    * count model (round 11, [[graft.operators.LmIndex]]): the target
    * slice is tokenized/counted ONCE into a TableStore table, and the
    * scoring run joins the persisted counts — target text never
    * re-tokenized. Gated against q114's oracle VERBATIM (the
    * q138/q125/q130 persisted-twin contract); LmIndexSpec covers the
    * trigram/KN serves, the single-commit delta refresh, and the
    * tombstone filter.
    */
  private val q140 = Q("q140_stupid_backoff_served",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Scratch.withDir("graft_q140_lm") { root =>
        val store = new graft.sources.TableStore(s, root)
        store.append("target",
          docs.filter(col("source").isin("src0", "src1"))
            .select(col("doc_id"), col("text")))
        graft.operators.LmIndex.buildFromCorpus(store, "target", "lm",
          "text")
        graft.operators.LmIndex.stupidBackoffScoresServed(store, "lm",
            docs, "doc_id", "text")
          .orderBy(col("doc_id"))
      }(s)
    },
    Some(stupidBackoffOracleSql))

  /** q124 — interpolated Kneser–Ney bigram scoring
    * ([[graft.operators.Lm.kneserNeyScores]]): the smoothing stupid
    * backoff approximates (Brants 2007 §3), over the same
    * src0-1-trained model — `max(c12−d,0)/c1 + d·N1⁺(w1·)/c1 ·
    * N1⁺(·w2)/B` with d = 3/4, which makes every probability a ratio
    * of EXACT integers (num = max(4c12−3,0)·B + 3·N1f·N1c, den =
    * 4·c1·B): one correctly-rounded double division into the
    * quantized-ln kit, and no a+b·c double shape for DuckDB's FMA
    * contraction to break (the q90 lesson). The oracle rebuilds
    * bigram/unigram/N1⁺ tables and replays the four-way CASE
    * verbatim; margins audited in LmSpec (1.3e-4 at the spec
    * fixture).
    */
  private val q124 = Q("q124_kneser_ney",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Lm.kneserNeyScores(
          docs, docs.filter(col("source").isin("src0", "src1")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tnt AS (SELECT STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents WHERE source IN ('src0', 'src1')),
        bc AS MATERIALIZED (SELECT g, COUNT(*) AS c12 FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
            FROM tnt WHERE LEN(toks) >= 2) GROUP BY g),
        uc AS MATERIALIZED (SELECT w, COUNT(*) AS c FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 1)}) AS w
            FROM tnt) GROUP BY w),
        n1f AS MATERIALIZED (SELECT STRING_SPLIT(g, ' ')[1] AS w,
          COUNT(*) AS n1 FROM bc GROUP BY 1),
        n1b AS MATERIALIZED (SELECT STRING_SPLIT(g, ' ')[2] AS w,
          COUNT(*) AS n1c FROM bc GROUP BY 1),
        bv AS MATERIALIZED (SELECT (SELECT COUNT(*) FROM bc) AS b,
          (SELECT COUNT(*) FROM uc) AS v),
        cnt AS (SELECT doc_id, STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents),
        pg AS (SELECT doc_id,
            UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
          FROM cnt WHERE LEN(toks) >= 2),
        j AS (SELECT pg.doc_id AS doc_id, pg.g AS g, bc.c12 AS c12,
            u1.c AS c1, f.n1 AS n1f, bk.n1c AS n1c
          FROM pg LEFT JOIN bc ON pg.g = bc.g
            LEFT JOIN uc u1 ON STRING_SPLIT(pg.g, ' ')[1] = u1.w
            LEFT JOIN n1f f ON STRING_SPLIT(pg.g, ' ')[1] = f.w
            LEFT JOIN n1b bk ON STRING_SPLIT(pg.g, ' ')[2] = bk.w),
        scored AS (SELECT doc_id,
            CASE WHEN c12 IS NOT NULL THEN 1 ELSE 0 END AS top,
            CASE WHEN c12 IS NULL AND c1 IS NOT NULL AND n1f IS NOT NULL
              AND n1c IS NOT NULL THEN 1 ELSE 0 END AS itp,
            CASE WHEN c12 IS NULL AND (c1 IS NULL OR n1f IS NULL)
              AND n1c IS NOT NULL THEN 1 ELSE 0 END AS ct,
            CAST(FLOOR(1000000 * CASE
              WHEN c12 IS NOT NULL THEN
                LN(CAST((4 * c12 - 3) * (SELECT b FROM bv)
                    + 3 * n1f * n1c AS DOUBLE)
                  / CAST(4 * c1 * (SELECT b FROM bv) AS DOUBLE))
              WHEN c1 IS NOT NULL AND n1f IS NOT NULL
                  AND n1c IS NOT NULL THEN
                LN(CAST(3 * n1f * n1c AS DOUBLE)
                  / CAST(4 * c1 * (SELECT b FROM bv) AS DOUBLE))
              WHEN n1c IS NOT NULL THEN
                LN(CAST(n1c AS DOUBLE)
                  / CAST((SELECT b FROM bv) AS DOUBLE))
              ELSE LN(1.0 / CAST((SELECT v FROM bv) AS DOUBLE))
              END) AS BIGINT) AS q
          FROM j),
        agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(top) AS n_top,
            SUM(itp) AS n_interp, SUM(ct) AS n_cont, SUM(q) AS kn_score
          FROM scored GROUP BY doc_id)
      SELECT d.doc_id AS doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
        CAST(COALESCE(a.n_top, 0) AS BIGINT) AS n_top,
        CAST(COALESCE(a.n_interp, 0) AS BIGINT) AS n_interp,
        CAST(COALESCE(a.n_cont, 0) AS BIGINT) AS n_cont,
        CAST(COALESCE(a.kn_score, 0) AS BIGINT) AS kn_score
      FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY doc_id"""))

  /** q117 — TRIGRAM stupid-backoff LM scoring
    * ([[graft.operators.Lm.stupidBackoffTrigramScores]]): the
    * recursive four-way backoff `c123/c12 → α·c23/c2 → α²·c3/N →
    * α²/V` over the same src0-1-trained model — cross-source docs
    * exercise every branch. The oracle rebuilds the trigram/bigram/
    * unigram tables and replays the CASE verbatim (q114's kit, one
    * order higher); margins audited in LmSpec.
    */
  private val q117 = Q("q117_trigram_backoff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Lm.stupidBackoffTrigramScores(
          docs, docs.filter(col("source").isin("src0", "src1")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tnt AS (SELECT STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents WHERE source IN ('src0', 'src1')),
        tc AS (SELECT g, COUNT(*) AS c123 FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 3)}) AS g
            FROM tnt WHERE LEN(toks) >= 3) GROUP BY g),
        bc AS (SELECT g, COUNT(*) AS cb FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
            FROM tnt WHERE LEN(toks) >= 2) GROUP BY g),
        uc AS (SELECT w, COUNT(*) AS c FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 1)}) AS w
            FROM tnt) GROUP BY w),
        nv AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM uc),
        cnt AS (SELECT doc_id, STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents),
        pg AS (SELECT doc_id,
            UNNEST(${TextQueries.ngramsSql("toks", 3)}) AS g
          FROM cnt WHERE LEN(toks) >= 3),
        j AS (SELECT pg.doc_id AS doc_id, pg.g AS g, tc.c123 AS c123,
            b12.cb AS c12, b23.cb AS c23, u2.c AS c2, u3.c AS c3
          FROM pg LEFT JOIN tc ON pg.g = tc.g
            LEFT JOIN bc b12 ON STRING_SPLIT(pg.g, ' ')[1] || ' ' ||
              STRING_SPLIT(pg.g, ' ')[2] = b12.g
            LEFT JOIN bc b23 ON STRING_SPLIT(pg.g, ' ')[2] || ' ' ||
              STRING_SPLIT(pg.g, ' ')[3] = b23.g
            LEFT JOIN uc u2 ON STRING_SPLIT(pg.g, ' ')[2] = u2.w
            LEFT JOIN uc u3 ON STRING_SPLIT(pg.g, ' ')[3] = u3.w),
        scored AS (SELECT doc_id,
            CASE WHEN c123 IS NOT NULL THEN 1 ELSE 0 END AS h3,
            CASE WHEN c123 IS NULL AND c23 IS NOT NULL
              THEN 1 ELSE 0 END AS h2,
            CASE WHEN c123 IS NULL AND c23 IS NULL AND c3 IS NOT NULL
              THEN 1 ELSE 0 END AS b1,
            CAST(FLOOR(1000000 * CASE
              WHEN c123 IS NOT NULL THEN
                LN(CAST(c123 AS DOUBLE) / CAST(c12 AS DOUBLE))
              WHEN c23 IS NOT NULL THEN LN(0.4 *
                (CAST(c23 AS DOUBLE) / CAST(c2 AS DOUBLE)))
              WHEN c3 IS NOT NULL THEN LN(0.4 * 0.4 *
                (CAST(c3 AS DOUBLE) /
                  CAST((SELECT n FROM nv) AS DOUBLE)))
              ELSE LN(0.4 * 0.4 /
                CAST((SELECT v FROM nv) AS DOUBLE))
              END) AS BIGINT) AS q
          FROM j),
        agg AS (SELECT doc_id, COUNT(*) AS n_trigrams,
            SUM(h3) AS n_hit3, SUM(h2) AS n_hit2, SUM(b1) AS n_backoff,
            SUM(q) AS sb_score FROM scored GROUP BY doc_id)
      SELECT d.doc_id AS doc_id, COALESCE(a.n_trigrams, 0) AS n_trigrams,
        CAST(COALESCE(a.n_hit3, 0) AS BIGINT) AS n_hit3,
        CAST(COALESCE(a.n_hit2, 0) AS BIGINT) AS n_hit2,
        CAST(COALESCE(a.n_backoff, 0) AS BIGINT) AS n_backoff,
        CAST(COALESCE(a.sb_score, 0) AS BIGINT) AS sb_score
      FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY doc_id"""))

  /** q77 — cross-source overlap matrix
    * ([[graft.operators.Boilerplate.sourceOverlapMatrix]]): distinct
    * shared segments per source pair + containment fraction — the
    * provenance diagnostic. The oracle replays segmentation, the
    * 2-to-maxSources share band, the pair counts, and the single exact
    * division.
    */
  private val q77 = Q("q77_source_overlap",
    (s, dir) => graft.operators.Boilerplate
      .sourceOverlapMatrix(t(s, dir, "documents"), "source", "text",
        segWords = 8, maxSources = 64)
      .orderBy(col("src_a"), col("src_b")),
    Some("""WITH toks AS (SELECT source, STRING_SPLIT(text, ' ') AS w
        FROM documents),
      segs AS (SELECT DISTINCT source,
          MD5(ARRAY_TO_STRING(w[(8*i+1):(8*i+8)], ' ')) AS h
        FROM toks CROSS JOIN
          UNNEST(RANGE(CAST(CEIL(LEN(w) / 8.0) AS BIGINT))) AS u(i)),
      shared AS (SELECT h FROM segs
        GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 64),
      pr AS (SELECT s.source, s.h FROM segs s JOIN shared sh
        ON s.h = sh.h),
      tot AS (SELECT source, COUNT(*) AS n_seg FROM segs
        GROUP BY source),
      pairs AS (SELECT a.source AS src_a, b.source AS src_b,
          COUNT(*) AS n_shared
        FROM pr a JOIN pr b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2)
      SELECT p.src_a, p.src_b, p.n_shared, ta.n_seg AS n_seg_a,
        tb.n_seg AS n_seg_b,
        CAST(p.n_shared AS DOUBLE) /
          CAST(LEAST(ta.n_seg, tb.n_seg) AS DOUBLE) AS overlap_frac
      FROM pairs p JOIN tot ta ON ta.source = p.src_a
        JOIN tot tb ON tb.source = p.src_b
      ORDER BY src_a, src_b"""))

  /** q93 — cross-document duplicated n-gram coverage
    * ([[graft.operators.Boilerplate.dupNgramCoverage]]): the Lee et
    * al. 2021 exact-substring duplication signal — per document, how
    * many sliding 5-token windows (and how many tokens under their
    * union) occur ≥ 2 times corpus-wide. All-integer outputs; the
    * oracle replays the window explode (positions aligned by the same
    * RANGE formula as the Spark kernel), the ≥ minDf tail, and the
    * union-of-windows distinct count.
    */
  private val q93 = Q("q93_dup_ngram_coverage",
    (s, dir) => {
      graft.operators.Boilerplate.dupNgramCoverage(
          t(s, dir, "documents"), "doc_id", "text", n = 5, minDf = 2)
        .orderBy(col("id"))
    },
    Some {
      val gram = "ARRAY_TO_STRING(toks[CAST(i + 1 AS INT) : " +
        "CAST(i + 5 AS INT)], ' ')"
      s"""WITH nt AS (SELECT doc_id, ${normSql("text")} AS nrm,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks
        FROM documents WHERE text IS NOT NULL),
      g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, md5($gram) AS gh
        FROM nt, UNNEST(RANGE(0, GREATEST(LEN(toks) - 5, 0) + 1)) AS t(i)
        WHERE LENGTH($gram) > 0),
      dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
      dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
      cov AS (SELECT doc_id,
          COUNT(DISTINCT pos) AS n_dup_grams,
          COUNT(DISTINCT tp) AS covered_raw
        FROM (SELECT doc_id, pos, UNNEST(RANGE(pos, pos + 5)) AS tp
          FROM dp)
        GROUP BY doc_id),
      base AS (SELECT doc_id, $nTokSqlToks AS n_tokens,
          CAST(LEN(${TextQueries.ngramsSql("toks", 5)}) AS BIGINT)
            AS n_grams
        FROM nt)
      SELECT b.doc_id AS id, b.n_tokens, b.n_grams,
        COALESCE(c.n_dup_grams, CAST(0 AS BIGINT)) AS n_dup_grams,
        LEAST(COALESCE(c.covered_raw, CAST(0 AS BIGINT)), b.n_tokens)
          AS covered_tokens
      FROM base b LEFT JOIN cov c USING (doc_id)
      ORDER BY id"""
    })

  /** n_tokens over the q93 CTE's precomputed toks/nrm (the
    * [[TextQueries.lenTokSql]] convention). */
  private def nTokSqlToks: String =
    "(CASE WHEN LENGTH(nrm) = 0 THEN CAST(0 AS BIGINT) ELSE LEN(toks) END)"

  /** q94 — duplicated-span removal
    * ([[graft.operators.Boilerplate.removeDupSpans]]): Lee et al.'s
    * ExactSubstr dedup proper — the smallest-(id,pos) occurrence of
    * every duplicated 5-token window keeps its text, every other
    * occurrence's range is dropped, survivors rejoin in order. The
    * oracle replays window df, keeper rank, range union, and the
    * ordered token reassembly.
    */
  private val q94 = Q("q94_dedup_spans",
    (s, dir) => {
      graft.operators.Boilerplate.removeDupSpans(
          t(s, dir, "documents"), "doc_id", "text", n = 5, minDf = 2)
        .orderBy(col("id"))
    },
    Some {
      val gram = "ARRAY_TO_STRING(toks[CAST(i + 1 AS INT) : " +
        "CAST(i + 5 AS INT)], ' ')"
      s"""WITH nt AS (SELECT doc_id, ${normSql("text")} AS nrm,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks
        FROM documents WHERE text IS NOT NULL),
      g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, md5($gram) AS gh
        FROM nt, UNNEST(RANGE(0, GREATEST(LEN(toks) - 5, 0) + 1)) AS t(i)
        WHERE LENGTH($gram) > 0),
      dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
      lose AS (SELECT doc_id, pos FROM (SELECT g.doc_id, g.pos,
          ROW_NUMBER() OVER (PARTITION BY g.gh
            ORDER BY g.doc_id, g.pos) AS rn
        FROM g JOIN dup USING (gh)) WHERE rn > 1),
      rem AS (SELECT DISTINCT doc_id, tp FROM
        (SELECT doc_id, UNNEST(RANGE(pos, pos + 5)) AS tp FROM lose)),
      tk AS (SELECT doc_id, CAST(i AS BIGINT) AS tp,
          toks[CAST(i + 1 AS INT)] AS tok
        FROM nt, UNNEST(RANGE(0, CASE WHEN LENGTH(nrm) = 0 THEN 0
          ELSE LEN(toks) END)) AS t(i)),
      keep AS (SELECT t.doc_id, t.tp, t.tok FROM tk t
        LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.tp = t.tp
        WHERE r.tp IS NULL),
      reb AS (SELECT doc_id,
          ARRAY_TO_STRING(LIST(tok ORDER BY tp), ' ') AS clean_text,
          COUNT(*) AS n_kept FROM keep GROUP BY doc_id),
      base AS (SELECT doc_id, $nTokSqlToks AS n_tokens FROM nt)
      SELECT b.doc_id AS id, COALESCE(r.clean_text, '') AS clean_text,
        b.n_tokens,
        b.n_tokens - COALESCE(r.n_kept, CAST(0 AS BIGINT))
          AS n_removed_tokens
      FROM base b LEFT JOIN reb r USING (doc_id)
      ORDER BY id"""
    })

  /** Unrolled BPE-training CTE chain shared by the q97/q98 oracles
    * (the q86 kmeans precedent): nt (normalized docs) → v0
    * (char-symbol vocab) → per round m: p$m (total-order argmax pair)
    * → r$m (RECURSIVE greedy position-by-position refold accumulator)
    * → v$m (refolded vocab). Requires a `WITH RECURSIVE` prefix.
    * Every non-recursive stage CTE is `AS MATERIALIZED`: the argmax
    * CTEs are referenced from scalar subqueries inside the next
    * recursive fold, and without the hint DuckDB re-inlines the whole
    * upstream chain at every reference — measured 25+ min vs 0.1 s at
    * sf0.01.
    */
  private def bpeCtes(k: Int): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""nt AS MATERIALIZED (SELECT
        STRING_SPLIT(${normSql("text")}, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
        AND LENGTH(${normSql("text")}) > 0)""",
      """v0 AS MATERIALIZED (SELECT w, cnt, string_split(w, '') || ['</w>'] AS syms
      FROM (SELECT t.tok AS w, COUNT(*) AS cnt
        FROM nt, UNNEST(toks) AS t(tok) GROUP BY 1))""")
    for (m <- 1 to k) {
      val (p, r, vp, v) = (s"p$m", s"r$m", s"v${m - 1}", s"v$m")
      ctes += s"""$p AS MATERIALIZED (SELECT l, r, c FROM (
        SELECT s.syms[CAST(i + 1 AS INT)] AS l,
          s.syms[CAST(i + 2 AS INT)] AS r, SUM(s.cnt) AS c
        FROM $vp s, UNNEST(RANGE(0, GREATEST(LEN(s.syms) - 1, 0))) t(i)
        GROUP BY 1, 2)
      ORDER BY c DESC, l, r LIMIT 1)"""
      ctes += s"""$r AS (
      SELECT w, cnt, syms, CAST(1 AS BIGINT) AS i,
        CAST([] AS VARCHAR[]) AS acc FROM $vp
      UNION ALL
      SELECT w, cnt, syms, i + 1,
        CASE WHEN LEN(acc) > 0 AND acc[-1] = (SELECT l FROM $p)
              AND syms[CAST(i AS INT)] = (SELECT r FROM $p)
          THEN acc[1:CAST(LEN(acc) - 1 AS INT)] ||
            [acc[-1] || syms[CAST(i AS INT)]]
          ELSE acc || [syms[CAST(i AS INT)]] END
      FROM $r WHERE i <= LEN(syms))"""
      ctes += s"""$v AS MATERIALIZED (SELECT w, cnt, acc AS syms FROM $r
      WHERE i = LEN(syms) + 1)"""
    }
    ctes.toSeq
  }

  /** q97 — BPE merge training ([[graft.operators.Bpe.trainMerges]]):
    * 6 merges learned from the corpus word-frequency relation —
    * exact-integer pair counts, total-order argmax (count desc, then
    * lexicographic pair), greedy left-to-right refold — against the
    * unrolled [[bpeCtes]] replay.
    */
  private val q97 = {
    val k = 6
    val sel = (1 to k).map(m =>
      s"""SELECT CAST($m AS BIGINT) AS step, l AS "left",
        r AS "right", CAST(c AS BIGINT) AS pair_count FROM p$m""")
      .mkString(" UNION ALL ")
    Q("q97_bpe_merges",
      (s, dir) => {
        graft.operators.Bpe.trainMerges(t(s, dir, "documents"), "text",
          numMerges = k).orderBy(col("step"))
      },
      Some("WITH RECURSIVE " + bpeCtes(k).mkString(",\n") +
        s"\nSELECT * FROM ($sel) ORDER BY step"))
  }

  /** q98 — corpus-wide BPE segmentation ([[graft.operators.Bpe.segment]]):
    * train 6 merges (q97's artifact), then segment EVERY document with
    * the learned merge list — one narrow projection over the corpus,
    * zero exchanges past the tiny driver-side merge table — and report
    * the top-30 subword frequencies. The oracle reuses q97's unrolled
    * chain: a trained word's replayed segmentation IS its final-vocab
    * symbol row, so corpus subword counts are `v6 ⨯ UNNEST(syms)`
    * weighted by word count. Gates that `segment`'s training-order
    * replay agrees with the trainer's own refold on every word.
    */
  private val q98 = {
    val k = 6
    Q("q98_bpe_segment",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Bpe.trainMerges(docs, "text", k)
          .orderBy(col("step"))
          .select(col("left"), col("right")).as[(String, String)]
          .collect().toSeq
        // same corpus envelope as the trainer: drop NULL/empty-norm
        // docs (tokens("") is [""] — would add a spurious `</w>`)
        val kept = docs.filter(col("text").isNotNull &&
          length(TextFunctions.normalizeText(col("text"))) > 0)
        graft.operators.Bpe.segment(kept, "text", merges)
          .select(explode(col("bpe_tokens")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(30)
      },
      Some(bpeSegmentOracleSql))
  }

  /** q98's oracle body, shared VERBATIM with q144 (served twin). */
  private[queries] def bpeSegmentOracleSql: String = {
    val k = 6
    "WITH RECURSIVE " + bpeCtes(k).mkString(",\n") + s"""
      SELECT s AS tok, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM v$k, UNNEST(syms) t(s)
      GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 30"""
  }

  /** q112 — TOKENIZER EVALUATION: per-language BPE fertility and
    * compression (round 8). Fertility (subwords per word) and
    * compression (chars per subword) are THE standard tokenizer-eval
    * metrics for multilingual corpora — a language whose fertility
    * spikes under a shared vocabulary is under-served by it. Train 6
    * merges (q97's artifact), segment the corpus (q98's kernel), then
    * one grouped aggregate; ratios are quantized by exact integer
    * division (`div` ⇄ `//`) so the gate is bit-exact. The oracle
    * reuses the q97/q98 unrolled CTE chain and recomputes both
    * metrics from per-(lang, word) counts × the replayed
    * segmentation lengths.
    */
  private val q112 = {
    val k = 6
    Q("q112_bpe_fertility",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Bpe.trainMerges(docs, "text", k)
          .orderBy(col("step"))
          .select(col("left"), col("right")).as[(String, String)]
          .collect().toSeq
        val kept = docs.filter(col("text").isNotNull &&
          length(TextFunctions.normalizeText(col("text"))) > 0)
        graft.operators.Bpe.segment(kept, "text", merges)
          .select(col("lang"),
            TextFunctions.tokenCount(col("text")).as("nw"),
            size(col("bpe_tokens")).cast("long").as("nb"),
            length(regexp_replace(TextFunctions.normalizeText(col("text")),
              " ", "")).cast("long").as("nc"))
          .groupBy(col("lang"))
          .agg(sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpe"),
            sum(col("nc")).as("n_chars"))
          .withColumn("fertility_q",
            expr("n_bpe * 1000000 div n_words"))
          .withColumn("compression_q",
            expr("n_chars * 1000000 div n_bpe"))
          .orderBy(col("lang"))
      },
      Some("WITH RECURSIVE " + bpeCtes(k).mkString(",\n") + s""",
      lw AS MATERIALIZED (SELECT lang, t.tok AS w, COUNT(*) AS c
        FROM (SELECT lang, STRING_SPLIT(${normSql("text")}, ' ') AS toks
          FROM documents WHERE text IS NOT NULL
            AND LENGTH(${normSql("text")}) > 0) nt2,
          UNNEST(toks) AS t(tok)
        GROUP BY 1, 2),
      agg AS (SELECT lang, SUM(c) AS n_words,
          SUM(c * LEN(v.syms)) AS n_bpe,
          SUM(c * LENGTH(lw.w)) AS n_chars
        FROM lw JOIN v$k v ON v.w = lw.w GROUP BY 1)
      SELECT lang, CAST(n_words AS BIGINT) AS n_words,
        CAST(n_bpe AS BIGINT) AS n_bpe,
        CAST(n_chars AS BIGINT) AS n_chars,
        CAST(n_bpe * 1000000 // n_words AS BIGINT) AS fertility_q,
        CAST(n_chars * 1000000 // n_bpe AS BIGINT) AS compression_q
      FROM agg ORDER BY lang"""))
  }

  /** q111 — corpus DATA CARD (round 8): the per-language summary a
    * dataset release ships — document/token volumes, exact-duplicate
    * mass, quality-gate failure counts, char-length extremes — as ONE
    * grouped aggregate over the proven kernels (tokenCount,
    * fingerprint = md5∘normalize, the Gopher keep predicate). Every
    * field is an exact integer; the oracle recomputes the whole card
    * from scratch in SQL, so a drift in ANY underlying kernel
    * (normalization, tokenization, fingerprint, quality rules) moves a
    * count and fails the hash. One narrow projection → one exchange.
    */
  private val q111 = {
    val cfg = graft.functions.QualityRules.Config()
    Q("q111_data_card",
      (s, dir) => {
        import graft.functions.QualityRules
        val d = t(s, dir, "documents")
          .withColumn("nrm", TextFunctions.normalizeText(col("text")))
          .withColumn("toks", TextFunctions.tokens(col("text")))
        val e = d
          .withColumn("n_tok",
            TextFunctions.tokenCountOf(col("toks"), col("nrm")))
          .withColumn("fp", TextFunctions.fingerprint(col("text")))
          .withColumn("keep",
            QualityRules.keepOf(col("text"), col("nrm"), col("toks"), cfg))
        e.groupBy(col("lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"),
            sum(when(!col("keep"), 1L).otherwise(0L)).as("n_quality_fail"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH d AS (SELECT lang, text, n_chars,
          ${normSql("text")} AS nrm,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks
        FROM documents),
      e AS (SELECT lang, n_chars,
          (CASE WHEN LENGTH(nrm) = 0 THEN CAST(0 AS BIGINT)
                ELSE LEN(toks) END) AS n_tok,
          MD5(nrm) AS fp,
          (${keepPredSql(cfg)}) AS keep
        FROM d)
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs,
        CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_quality_fail,
        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM e GROUP BY lang ORDER BY lang"""))
  }

  /** q127 — unigram-LM tokenizer scoring
    * ([[graft.operators.Unigram]], Kudo 2018 / SentencePiece): train
    * the deterministic substring-frequency vocabulary (top-40 pieces ∪
    * all single chars, quantized-ln costs, margin-audited), then
    * Viterbi-score every document in ONE codegen pass — per doc the
    * sum of per-word max-score segmentations (scores only: a max is a
    * unique value, so segmentation ties can't break the hash gate).
    * The oracle rebuilds the vocabulary (`SELECT DISTINCT … UNION ALL`
    * instead of bare UNION — under WITH RECURSIVE, DuckDB 1.0 skips
    * the dedup a bare UNION promises) and replays the DP as a
    * sliding-window recursive CTE over each distinct word: each row
    * carries (dp[p], dp[p−1], dp[p−2], dp[p−3]) and steps via four
    * LEFT JOINs to the cost table, GREATEST with −4e18 sentinels for
    * invalid transitions and the single-char fallback COALESCE.
    */
  private val q127 = {
    val v = 40
    Q("q127_unigram_lm_score",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = graft.operators.Unigram.trainModel(docs, "text", v,
          minQuantMargin = Some(1e-6))
        graft.operators.Unigram.scoreDocs(docs, "doc_id", "text", model)
          .select(col("doc_id"),
            coalesce(col("n_words"), lit(0L)).as("n_words"),
            coalesce(col("uni_q"), lit(0L)).as("uni_q"))
          .orderBy(col("doc_id"))
      },
      Some(unigramScoreOracleSql))
  }

  /** q127's oracle body, shared VERBATIM with q143 (served twin — the
    * persisted-twin contract: a tokenizer served from the stored
    * frequency table must gate against the exact oracle its inline
    * form does).
    */
  private[queries] def unigramScoreOracleSql: String = {
    val v = 40
    s"""WITH RECURSIVE
        tnt AS MATERIALIZED (SELECT doc_id,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
        wc AS MATERIALIZED (SELECT w, COUNT(*) AS cnt FROM
          (SELECT UNNEST(toks) AS w FROM tnt) WHERE LEN(w) > 0
          GROUP BY w),
        dw AS MATERIALIZED (SELECT w, cnt, LEN(w) AS n FROM wc),
        cand AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT)
            AS freq FROM (
          SELECT SUBSTR(d.w, CAST(t.i AS INT), CAST(u.l AS INT))
              AS piece, d.cnt AS cnt
          FROM dw d, RANGE(1, ${graft.operators.Unigram.MaxStarts + 1})
            t(i), RANGE(1, ${graft.operators.Unigram.MaxPieceLen + 1}) u(l)
          WHERE CAST(t.i AS INT) + CAST(u.l AS INT) - 1 <= d.n)
          GROUP BY piece),
        topv AS MATERIALIZED (SELECT piece, freq FROM (
          SELECT piece, freq,
            ROW_NUMBER() OVER (ORDER BY freq DESC, piece) AS rn
          FROM cand) WHERE rn <= $v),
        vocab AS MATERIALIZED (SELECT DISTINCT piece, freq FROM (
          SELECT piece, freq FROM topv UNION ALL
          SELECT piece, freq FROM cand WHERE LEN(piece) = 1)),
        tot AS MATERIALIZED (SELECT CAST(SUM(freq) AS BIGINT) AS t
          FROM vocab),
        cost AS MATERIALIZED (SELECT piece, CAST(FLOOR(1000000.0 *
          LN(CAST(freq AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE)))
          AS BIGINT) AS c FROM vocab),
        fb AS MATERIALIZED (SELECT CAST(FLOOR(1000000.0 *
          LN(1.0 / CAST(t AS DOUBLE))) AS BIGINT) AS f FROM tot),
        dp AS (
          SELECT w, n, 0 AS pos, CAST(0 AS BIGINT) AS s0,
            CAST(NULL AS BIGINT) AS s1, CAST(NULL AS BIGINT) AS s2,
            CAST(NULL AS BIGINT) AS s3 FROM dw
          UNION ALL
          SELECT d.w, d.n, d.pos + 1,
            GREATEST(
              d.s0 + COALESCE(c1.c, (SELECT f FROM fb)),
              COALESCE(d.s1 + c2.c, CAST(-4000000000000000000 AS BIGINT)),
              COALESCE(d.s2 + c3.c, CAST(-4000000000000000000 AS BIGINT)),
              COALESCE(d.s3 + c4.c, CAST(-4000000000000000000 AS BIGINT)))
              AS s0,
            d.s0, d.s1, d.s2
          FROM dp d
          LEFT JOIN cost c1 ON c1.piece = SUBSTR(d.w, d.pos + 1, 1)
          LEFT JOIN cost c2 ON c2.piece = SUBSTR(d.w, d.pos, 2)
            AND d.pos >= 1
          LEFT JOIN cost c3 ON c3.piece = SUBSTR(d.w, d.pos - 1, 3)
            AND d.pos >= 2
          LEFT JOIN cost c4 ON c4.piece = SUBSTR(d.w, d.pos - 2, 4)
            AND d.pos >= 3
          WHERE d.pos < d.n),
        final AS MATERIALIZED (SELECT w, s0 AS ws FROM dp WHERE pos = n),
        docw AS (SELECT doc_id, UNNEST(toks) AS w FROM tnt),
        agg AS (SELECT doc_id, COUNT(*) AS n_words,
            CAST(SUM(f.ws) AS BIGINT) AS uni_q
          FROM (SELECT doc_id, w FROM docw WHERE LEN(w) > 0) dd
          JOIN final f USING (w) GROUP BY doc_id)
      SELECT d.doc_id AS doc_id,
        CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
        COALESCE(a.uni_q, 0) AS uni_q
      FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id"""
  }


  /** q129 — CCNet perplexity-bucket curation
    * ([[graft.operators.Perplexity.ccnetBuckets]], Wenzek et al.
    * 2020): per language, documents ranked by average per-transition
    * model cost and cut into head/middle/tail terciles; head+middle
    * kept. The oracle reuses q74's model chain, negates BEFORE the
    * integer division (Spark `div` truncates toward zero, DuckDB `//`
    * floors — they agree only on non-negative operands), and replays
    * the rank-discrete tercile as window arithmetic.
    */
  private val q129 = Q("q129_ccnet_buckets",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Perplexity.ccnetBuckets(
          docs, docs.filter(col("source").isin("src0", "src1", "src2")),
          "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tnt AS (SELECT STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents
          WHERE source IN ('src0', 'src1', 'src2')),
        bc AS (SELECT g, COUNT(*) AS c12 FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
            FROM tnt WHERE LEN(toks) >= 2) GROUP BY g),
        uc AS (SELECT w, COUNT(*) AS c1 FROM
          (SELECT UNNEST(${TextQueries.ngramsSql("toks", 1)}) AS w
            FROM tnt) GROUP BY w),
        v AS (SELECT COUNT(*) AS v FROM uc),
        cnt AS (SELECT doc_id, STRING_SPLIT(${normSql("text")}, ' ')
          AS toks FROM documents),
        pg AS (SELECT doc_id,
            UNNEST(${TextQueries.ngramsSql("toks", 2)}) AS g
          FROM cnt WHERE LEN(toks) >= 2),
        scored AS (SELECT pg.doc_id AS doc_id,
            CAST(FLOOR(1000000 * LN(
              CAST(COALESCE(bc.c12, 0) + 1 AS DOUBLE) /
              CAST(COALESCE(uc.c1, 0) + (SELECT v FROM v) AS DOUBLE)))
              AS BIGINT) AS q
          FROM pg LEFT JOIN bc ON pg.g = bc.g
            LEFT JOIN uc ON STRING_SPLIT(pg.g, ' ')[1] = uc.w),
        agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
            CAST(SUM(q) AS BIGINT) AS logprob FROM scored
          GROUP BY doc_id),
        costs AS (SELECT d.doc_id AS doc_id, d.lang AS lang,
            CASE WHEN COALESCE(a.n_bigrams, 0) > 0
              THEN (-a.logprob) // a.n_bigrams
              ELSE CAST(0 AS BIGINT) END AS cost_q
          FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
        ranked AS (SELECT doc_id, lang, cost_q,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY cost_q, doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY lang) AS n
          FROM costs)
      SELECT doc_id, lang, cost_q,
        CAST((3 * (rn - 1)) // n AS BIGINT) AS bucket,
        ((3 * (rn - 1)) // n) < 2 AS kept
      FROM ranked ORDER BY doc_id"""))

  /** q143 — unigram-LM scoring SERVED from the persisted candidate
    * frequency table (round 11, [[graft.operators.TokenizerIndex]]):
    * the model derives from stored frequencies with the pinned
    * vocabSize through the exact inline selection/cost chain, corpus
    * text never re-scanned for training. Gated against q127's oracle
    * VERBATIM (the persisted-twin contract); TokenizerIndexSpec
    * covers the delta refresh, tombstones, and generation pinning.
    */
  private val q143 = Q("q143_unigram_served",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Scratch.withDir("graft_q143_tok") { root =>
        val store = new graft.sources.TableStore(s, root)
        store.append("corpus", docs.select(col("doc_id"), col("text")))
        graft.operators.TokenizerIndex.buildUnigramFromCorpus(store,
          "corpus", "uni", "text", vocabSize = 40)
        graft.operators.TokenizerIndex.unigramScoreServed(store, "uni",
            docs, "doc_id", "text", minQuantMargin = Some(1e-6))
          .select(col("doc_id"),
            coalesce(col("n_words"), lit(0L)).as("n_words"),
            coalesce(col("uni_q"), lit(0L)).as("uni_q"))
          .orderBy(col("doc_id"))
      }(s)
    },
    Some(unigramScoreOracleSql))

  /** q144 — BPE segmentation SERVED from the persisted merge list
    * (round 11, [[graft.operators.TokenizerIndex]]): q98's corpus
    * segmentation with the merge chain read from the TableStore
    * artifact instead of retrained — the training loop runs once per
    * epoch, every downstream job replays the stored chain
    * (generation-pinned via bpeMergesAt). Gated against q98's oracle
    * VERBATIM.
    */
  private val q144 = Q("q144_bpe_segment_served",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Scratch.withDir("graft_q144_bpe") { root =>
        val store = new graft.sources.TableStore(s, root)
        store.append("corpus", docs.select(col("doc_id"), col("text")))
        graft.operators.TokenizerIndex.buildBpeFromCorpus(store,
          "corpus", "bpe", "text", numMerges = 6)
        val kept = docs.filter(col("text").isNotNull &&
          length(TextFunctions.normalizeText(col("text"))) > 0)
        graft.operators.TokenizerIndex.bpeSegmentServed(store, "bpe",
            kept, "text")
          .select(explode(col("bpe_tokens")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(30)
      }(s)
    },
    Some(bpeSegmentOracleSql))

  /** q177 — write-expectation accounting
    * ([[graft.operators.Expectations.accounting]], round 12): the
    * ingestion audit frame for three declared constraints over
    * documents — per-rule violation counts (NULL predicate =
    * violation) plus admitted/total summary rows. The split-and-
    * quarantine write path over the same rules is spec-gated
    * (ExpectationsSpec, TableStore appends).
    */
  private val q177 = Q("q177_expectation_audit",
    (s, dir) => {
      import graft.operators.Expectations
      import graft.operators.Expectations.Rule
      Expectations.accounting(t(s, dir, "documents"), Seq(
          Rule("chars_min", col("n_chars") >= 200),
          Rule("lang_allowed",
            col("lang").isin("en", "fr", "de", "es")),
          Rule("text_nonempty", length(col("text")) > 0)))
        .orderBy(col("rule"))
    },
    Some("""SELECT rule, n_rows FROM (
        SELECT 'chars_min' AS rule, CAST(SUM(CASE WHEN NOT
            COALESCE(n_chars >= 200, FALSE) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_rows FROM documents
        UNION ALL
        SELECT 'lang_allowed', CAST(SUM(CASE WHEN NOT
            COALESCE(lang IN ('en','fr','de','es'), FALSE)
          THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        UNION ALL
        SELECT 'text_nonempty', CAST(SUM(CASE WHEN NOT
            COALESCE(LENGTH(text) > 0, FALSE) THEN 1 ELSE 0 END)
          AS BIGINT) FROM documents
        UNION ALL
        SELECT '__admitted', CAST(SUM(CASE WHEN
            COALESCE(n_chars >= 200, FALSE)
            AND COALESCE(lang IN ('en','fr','de','es'), FALSE)
            AND COALESCE(LENGTH(text) > 0, FALSE)
          THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        UNION ALL
        SELECT '__total', CAST(COUNT(*) AS BIGINT) FROM documents)
      ORDER BY rule"""))

  val all: Seq[Q] = Seq(q35, q36, q50, q56, q57, q62, q70, q72, q74, q77,
    q93, q94, q97, q98, q111, q112, q114, q117, q124, q127, q129,
    q140, q143, q144, q177)
}
