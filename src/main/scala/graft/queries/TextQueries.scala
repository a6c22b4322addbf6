package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.TextFunctions
import graft.operators.{Dedup, Profile, Sampling, Similarity, Sketches}

/** Text-analysis + dedup coverage over the `documents` table (north-star
  * LLM-pipeline operators). DuckDB mirrors are generated from the same
  * marker tables / regex constants as the Column implementations so the
  * two can't drift.
  */
object TextQueries {

  // ---- SQL mirrors of TextFunctions (must stay formula-identical) ----
  private[queries] def normSql(c: String) =
    s"TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER($c), '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))"
  private[queries] def lenTokSql(toks: String, nrm: String) =
    s"(CASE WHEN LENGTH($nrm) = 0 THEN CAST(0 AS BIGINT) ELSE LEN($toks) END)"
  private[queries] def markerHitsSql(toks: String, lang: String) =
    TextFunctions.langMarkers(lang)
      .map(m => s"LEN(LIST_FILTER($toks, x -> x = '$m'))")
      .mkString("(", " + ", ")")
  private def langIdSql(toks: String): String = {
    val structs = TextFunctions.langMarkers.keys.toSeq.sorted.map(l =>
      s"struct_pack(hits := CAST(${markerHitsSql(toks, l)} AS BIGINT), lang := '$l')")
    s"""(CASE WHEN list_aggregate([${structs.mkString(", ")}], 'max').hits > 0
        THEN list_aggregate([${structs.mkString(", ")}], 'max').lang
        ELSE 'und' END)"""
  }
  /** Shared SQL mirror of the Gopher measures (q42/q75): `nt`/`m` CTE
    * text computing the five [[graft.functions.QualityRules.measuresOf]]
    * columns per doc_id. ONE definition so the two oracles can't drift.
    */
  private[queries] def gopherMeasuresCtesSql: String = {
    val n = lenTokSql("toks", "nrm")
    s"""nt AS (SELECT doc_id, text, ${normSql("text")} AS nrm,
      STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
    m AS (SELECT doc_id,
      $n AS n_words,
      CASE WHEN $n > 0 THEN CAST(LENGTH(REPLACE(nrm, ' ', '')) AS DOUBLE)
        / CAST($n AS DOUBLE) ELSE 0.0 END AS mean_word_len,
      CASE WHEN $n > 0 THEN
        CAST((LENGTH(text) - LENGTH(REPLACE(text, '#', ''))) +
          (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3
          AS DOUBLE) / CAST($n AS DOUBLE) ELSE 0.0 END AS symbol_ratio,
      CASE WHEN $n > 0 THEN CAST(LEN(LIST_FILTER(toks,
          x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        / CAST($n AS DOUBLE) ELSE 0.0 END AS alpha_word_frac,
      CAST(${markerHitsSql("toks", "en")} AS BIGINT) AS stopword_hits
    FROM nt)"""
  }

  /** SQL mirror of [[graft.functions.QualityRules.rules]] over the `m`
    * measure columns: (rule name, 1/0 BIGINT expr), NULL-as-FAIL
    * (COALESCE) to match the Column side's coalesce-to-false.
    */
  private[queries] def gopherFlagsSql(
      cfg: graft.functions.QualityRules.Config): Seq[(String, String)] = Seq(
    "r_word_count" -> s"""CAST(COALESCE(n_words BETWEEN ${cfg.minWords}
      AND ${cfg.maxWords}, FALSE) AS BIGINT)""",
    "r_mean_word_len" -> s"""CAST(COALESCE(mean_word_len BETWEEN
      ${cfg.minMeanWordLen} AND ${cfg.maxMeanWordLen}, FALSE) AS BIGINT)""",
    "r_symbol_ratio" -> s"""CAST(COALESCE(symbol_ratio <=
      ${cfg.maxSymbolRatio}, FALSE) AS BIGINT)""",
    "r_alpha_words" -> s"""CAST(COALESCE(alpha_word_frac >=
      ${cfg.minAlphaWordFrac}, FALSE) AS BIGINT)""",
    "r_stopwords" -> s"""CAST(COALESCE(stopword_hits >=
      ${cfg.minStopwordHits}, FALSE) AS BIGINT)""")

  /** Word n-gram multiset mirror (non-distinct — repetition counting). */
  private[queries] def ngramsSql(toks: String, n: Int) =
    s"""LIST_FILTER(LIST_TRANSFORM(
       RANGE(0, GREATEST(LEN($toks) - $n, 0) + 1),
       i -> ARRAY_TO_STRING($toks[i + 1 : i + $n], ' ')),
       s -> LENGTH(s) > 0)"""
  /** Word n-gram shingles mirror (distinct set). */
  private[queries] def shinglesSql(toks: String, n: Int) =
    s"LIST_DISTINCT(${ngramsSql(toks, n)})"

  /** q15 — language-ID + quality scoring + token counting per document
    * (north-star text analysis). Narrow projection, zero shuffles; the
    * ratios are single double divisions of exact integers so they match
    * DuckDB bit-for-bit.
    */
  private val q15 = Q("q15_text_stats",
    (s, dir) => {
      val d = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
      // tokens/nrm in their own projection: the measures are HOF
      // consumers, which block codegen CSE — without the hoist the text
      // is re-tokenized once per measure (see TextFunctions.tokenCountOf)
      d.select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("__toks"),
          TextFunctions.normalizeText(col("text")).as("__nrm"))
        .select(
          col("doc_id"),
          TextFunctions.tokenCountOf(col("__toks"), col("__nrm"))
            .as("n_tokens"),
          TextFunctions.langIdOf(col("__toks")).as("lang_detected"),
          (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
            length(col("text")).cast("double")).as("alpha_ratio"),
          (length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("double") /
            length(col("text")).cast("double")).as("punct_ratio"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH nt AS (SELECT doc_id, text, ${normSql("text")} AS nrm,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents)
      SELECT doc_id,
        ${lenTokSql("toks", "nrm")} AS n_tokens,
        ${langIdSql("toks")} AS lang_detected,
        (CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) /
          CAST(LENGTH(text) AS DOUBLE)) AS alpha_ratio,
        (CAST(LENGTH(REGEXP_REPLACE(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) /
          CAST(LENGTH(text) AS DOUBLE)) AS punct_ratio
      FROM nt ORDER BY doc_id"""))

  /** q16 — exact dedup by normalized-text fingerprint (north-star).
    * One shuffle; map-side partial min collapses dup groups early.
    */
  private val q16 = Q("q16_dedup_exact",
    (s, dir) => {
      Dedup.exactSurvivors(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("keep_id"))
    },
    Some(s"""SELECT MD5(${normSql("text")}) AS fp,
        MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      FROM documents GROUP BY fp ORDER BY keep_id"""))

  /** q17 — n-gram Jaccard near-dup pairs via inverted-index join (the
    * exact verifier; LSH (q18) prunes candidates at scale). Shuffles: one
    * on the shingle (inverted index), one on the pair group.
    */
  private val q17 = Q("q17_dedup_jaccard",
    (s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"), col("inter"), col("n_a"),
          col("n_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      sh AS (SELECT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS sh FROM nt),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id)
      SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
        (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
          AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
        >= 0.2
      ORDER BY id_a, id_b"""))

  /** q107 — edit-distance near-dup pairs (round 8,
    * [[Dedup.editDistancePairs]]): Levenshtein ≤ 8 on each doc's
    * 40-char SUFFIX (the near-dup generator's one-word substitution
    * shifts the tail by the length delta, so the surviving pairs
    * exercise real banded-DP alignment, not just equality). Candidates
    * via the complete length-banded self-join; verify with the
    * thresholded Levenshtein kernel. Distances are exact integers —
    * any engine's DP agrees bit-for-bit; the oracle replays the same
    * algebra with DuckDB's core levenshtein().
    */
  private val q107 = Q("q107_dedup_editdistance",
    (s, dir) => {
      val suffixed = t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"),
          expr("right(text, 40)").as("s40"))
      Dedup.editDistancePairs(suffixed, "doc_id", "s40", maxDist = 8)
        .select(col("id_a"), col("id_b"), col("dist"))
        // repartition(1)+sortWithinPartitions, NOT orderBy: a global
        // sort range-samples its child, which EXECUTES the whole
        // thresholded-DP verify twice (measured 2× on this query);
        // the result is tiny, so one post-shuffle partition sorts it
        // with identical output order
        .repartition(1).sortWithinPartitions(col("id_a"), col("id_b"))
    },
    Some("""WITH t AS (SELECT doc_id, RIGHT(text, 40) AS s
        FROM documents WHERE lang = 'en'),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          levenshtein(a.s, b.s) AS dist
        FROM t a JOIN t b ON a.doc_id < b.doc_id
          AND ABS(LENGTH(a.s) - LENGTH(b.s)) <= 8)
      SELECT id_a, id_b, CAST(dist AS INT) AS dist
      FROM p WHERE dist <= 8 ORDER BY id_a, id_b"""))

  /** q95 — containment-similarity pairs (inter/min(n_a,n_b), Broder's
    * companion measure to resemblance): the asymmetric near-dup
    * detector — a short doc embedded in a long one scores ~1.0 here
    * while its Jaccard is ~n_a/n_b. Same inverted-index plan as q17;
    * both scores emitted.
    */
  private val q95 = Q("q95_dedup_containment",
    (s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("inter"), col("n_a"),
          col("n_b"), col("containment"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      sh AS (SELECT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS sh FROM nt),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id)
      SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
        (CAST(inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE))
          AS containment,
        (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
          AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE (CAST(inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE))
        >= 0.5
      ORDER BY id_a, id_b"""))

  /** q18 — MinHash+LSH candidate generation then exact-Jaccard verify:
    * the 100 TB dedup path. xxhash64 bucket generation is not portable
    * to DuckDB, but the END-TO-END contract is: with 16 hashes × 4 bands
    * the LSH stage has recall 1.0 for jaccard >= 0.2 pairs on this data
    * (verified at sf0.01 and sf0.1), so candidates ∩ exact-verify must
    * equal the brute-force inverted-index result — q17's oracle,
    * projected. A missed candidate pair fails the hash compare, so the
    * oracle genuinely gates the LSH stage, not just the verifier.
    */
  private val q18 = Q("q18_dedup_minhash_lsh",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text",
        shingleN = 3, k = 16, bands = 4)
      // exact scoring runs ONLY on candidate pairs (per-pair set
      // intersection), never the corpus-wide inverted-index join —
      // that is the entire point of the LSH stage at scale
      Dedup.verifyJaccard(cands, docs, "doc_id", "text",
        shingleN = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      sh AS (SELECT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS sh FROM nt),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id)
      SELECT id_a, id_b,
        (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
          AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
        >= 0.2
      ORDER BY id_a, id_b"""))

  /** q19 — SimHash near-dup pairs at the canonical 64-bit / hamming ≤ 3 /
    * 4-band config (Manku et al., WWW'07): by pigeonhole a pair within
    * hamming 3 shares ≥ 1 exact 16-bit band, so the banded candidate set
    * is structurally complete and the result is EXACT, not approximate.
    * Signatures use the MD5 token hash ([[Dedup.simhashMd5]]) so the
    * oracle replays the entire pipeline — signature bits, banding, and
    * hamming — in SQL (md5 is bit-identical across engines; xxhash64,
    * the faster production hash, is not).
    */
  private val q19 = Q("q19_dedup_simhash",
    (s, dir) => {
      // repartition BEFORE the 64-bit-plane fold so it parallelizes even
      // from a single input split
      val sigs = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
        .select(col("doc_id"),
          Dedup.simhashMd5(TextFunctions.tokens(col("text"))).as("sig"))
      Dedup.simhashPairs(sigs, "doc_id", "sig", maxDist = 3, bands = 4)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      tok AS (SELECT doc_id, UNNEST(toks) AS t FROM nt),
      th AS (SELECT doc_id, md5(t) AS h FROM tok),
      bits AS (SELECT doc_id, j,
          CASE WHEN ((STRPOS('0123456789abcdef',
               SUBSTRING(h, CAST(16 - (j // 4) AS INT), 1)) - 1)
               >> (j % 4)) & 1 = 1
            THEN 1 ELSE -1 END AS v
        FROM th CROSS JOIN (SELECT UNNEST(RANGE(64)) AS j)),
      votes AS (SELECT doc_id, j, SUM(v) AS vote FROM bits
        GROUP BY doc_id, j),
      sigs AS (SELECT doc_id,
          CAST(SUM(CASE WHEN vote > 0 AND j >= 32
            THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END) AS BIGINT) AS hi,
          CAST(SUM(CASE WHEN vote > 0 AND j < 32
            THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS lo
        FROM votes GROUP BY doc_id),
      banded AS (SELECT doc_id, hi, lo, b,
          CASE b WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
                 WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bits
        FROM sigs CROSS JOIN (SELECT UNNEST(RANGE(4)) AS b)),
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM banded x JOIN banded y ON x.b = y.b AND x.bits = y.bits
          AND x.doc_id < y.doc_id)
      SELECT c.id_a, c.id_b,
        CAST(bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo))
          AS BIGINT) AS dist
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a
        JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo)) <= 3
      ORDER BY id_a, id_b"""))

  /** q42 — Gopher-style quality-rule gate ([[graft.functions.QualityRules]]):
    * per-doc measures, per-rule 1/0 flags, and the overall keep decision,
    * all in one narrow projection. The oracle recomputes every measure
    * and threshold from the same Config values.
    */
  private val q42 = {
    val cfg = graft.functions.QualityRules.Config()
    Q("q42_quality_rules",
      (s, dir) => {
        graft.functions.QualityRules
          .annotate(t(s, dir, "documents").repartition(graft.Par.n, col("doc_id")), "text", cfg)
          .select(col("doc_id"), col("n_words"), col("mean_word_len"),
            col("symbol_ratio"), col("alpha_word_frac"), col("stopword_hits"),
            col("r_word_count"), col("r_mean_word_len"), col("r_symbol_ratio"),
            col("r_alpha_words"), col("r_stopwords"), col("keep"))
          .orderBy(col("doc_id"))
      },
      Some {
        val flags = gopherFlagsSql(cfg)
        val flagSel = flags.map { case (n, e) => s"$e AS $n" }
          .mkString(", ")
        val keepConj = flags.map { case (n, _) => s"$n = 1" }
          .mkString(" AND ")
        s"""WITH $gopherMeasuresCtesSql,
        f AS (SELECT *, $flagSel FROM m)
        SELECT doc_id, n_words, mean_word_len, symbol_ratio,
          alpha_word_frac, stopword_hits, r_word_count, r_mean_word_len,
          r_symbol_ratio, r_alpha_words, r_stopwords,
          CAST($keepConj AS BIGINT) AS keep
        FROM f ORDER BY doc_id"""
      })
  }

  /** q47 — exact per-source token-count quantiles (corpus profiling).
    * Discrete rank-based definition (value at rank ⌈q·n⌉ in (n_tok,
    * doc_id) order) instead of engine-specific interpolation, so both
    * engines pick the same concrete row: one window partitioning +
    * one agg exchange.
    */
  private val q47 = Q("q47_token_quantiles",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_tok"), col("doc_id"))
      val d = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tok"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      def q(p: Double) =
        max(when(col("rn") === ceil(col("n") * lit(p)).cast("long"),
          col("n_tok")))
      d.groupBy(col("source"))
        .agg(max(col("n")).as("n_docs"), q(0.25).as("p25"),
          q(0.5).as("p50"), q(0.75).as("p75"), q(0.95).as("p95"))
        .orderBy(col("source"))
    },
    Some(s"""WITH nt AS (SELECT source, doc_id, ${normSql("text")} AS nrm,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      tk AS (SELECT source, doc_id,
          ${lenTokSql("toks", "nrm")} AS n_tok FROM nt),
      r AS (SELECT source, doc_id, n_tok,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY n_tok, doc_id) AS BIGINT) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS n FROM tk)
      SELECT source, MAX(n) AS n_docs,
        MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT)
          THEN n_tok END) AS p25,
        MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT)
          THEN n_tok END) AS p50,
        MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS BIGINT)
          THEN n_tok END) AS p75,
        MAX(CASE WHEN rn = CAST(CEIL(n * 0.95) AS BIGINT)
          THEN n_tok END) AS p95
      FROM r GROUP BY source ORDER BY source"""))

  /** q51 — BPE-ish subword counting + rolling-hash document fingerprint
    * (the two remaining TextFunctions under the gate). The oracle
    * rebuilds the lookaround-split count as alnum-runs + non-space
    * punctuation chars (RE2 has no lookarounds) and replays the wrapping
    * 64-bit Horner fold in HUGEINT mod 2^64 arithmetic.
    */
  private val q51 = Q("q51_subwords_fingerprint",
    (s, dir) => {
      t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
        .select(col("doc_id"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"),
          TextFunctions.rollingHash(col("text")).as("rhash"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH nt AS (SELECT doc_id, text, ${normSql("text")} AS nrm
        FROM documents),
      r AS (SELECT doc_id, list_reduce(
          list_prepend(0::HUGEINT,
            [unicode(x)::HUGEINT FOR x IN string_split_regex(nrm, '')]),
          (acc, c) -> (acc * 31 + c) % 18446744073709551616::HUGEINT)
          AS rr
        FROM nt WHERE LENGTH(nrm) > 0)
      SELECT nt.doc_id,
        CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '[^a-zA-Z0-9]+'),
            x -> LENGTH(x) > 0))
          + LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9 ]', '', 'g'))
          AS BIGINT) AS n_subwords,
        COALESCE(CAST(CASE WHEN r.rr >= 9223372036854775808::HUGEINT
          THEN r.rr - 18446744073709551616::HUGEINT ELSE r.rr END
          AS BIGINT), 0) AS rhash
      FROM nt LEFT JOIN r ON nt.doc_id = r.doc_id
      ORDER BY nt.doc_id"""))

  /** q55 — Gopher-style repetition rules ([[graft.functions.RepetitionRules]]):
    * top-n-gram and dup-n-gram character fractions + pass flags + keep.
    * The oracle replays the tagged-explode → (doc, n, gram) count →
    * per-doc argmax/sums pipeline stage for stage, including the
    * empty-gram sentinel and the struct-ordered top-gram tie-break.
    */
  private val q55 = {
    val cfg = graft.functions.RepetitionRules.Config()
    Q("q55_repetition_rules",
      (s, dir) => {
        graft.functions.RepetitionRules
          .measures(t(s, dir, "documents"), "doc_id", "text", cfg)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH nt AS (SELECT doc_id,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
        gg AS (SELECT doc_id, ${ngramsSql("toks", cfg.topN)} AS gt,
            ${ngramsSql("toks", cfg.dupN)} AS gd FROM nt),
        g AS (SELECT doc_id, UNNEST(CASE WHEN LEN(gt) + LEN(gd) = 0
            THEN [struct_pack(n := 0, gram := '')]
            ELSE LIST_CONCAT(
              LIST_TRANSFORM(gt, x -> struct_pack(n := ${cfg.topN}, gram := x)),
              LIST_TRANSFORM(gd, x -> struct_pack(n := ${cfg.dupN}, gram := x)))
            END) AS x
          FROM gg),
        c AS (SELECT doc_id, x.n AS n, x.gram AS gram, COUNT(*) AS cnt,
            COUNT(*) * LENGTH(REPLACE(x.gram, ' ', '')) AS chars
          FROM g GROUP BY doc_id, x.n, x.gram),
        a AS (SELECT doc_id,
            MAX(CASE WHEN n = ${cfg.topN}
              THEN struct_pack(cnt := cnt, gram := gram, chars := chars)
              END) AS top,
            SUM(CASE WHEN n = ${cfg.topN} THEN chars END) AS top_all,
            SUM(CASE WHEN n = ${cfg.dupN} THEN chars END) AS dup_all,
            SUM(CASE WHEN n = ${cfg.dupN} AND cnt > 1 THEN chars END)
              AS dup_dup
          FROM c GROUP BY doc_id),
        f AS (SELECT doc_id, COALESCE(top.gram, '') AS top_gram,
            COALESCE(CAST(top.chars AS DOUBLE) / CAST(top_all AS DOUBLE),
              0.0) AS top_gram_char_frac,
            COALESCE(CAST(COALESCE(dup_dup, 0) AS DOUBLE) /
              CAST(dup_all AS DOUBLE), 0.0) AS dup_gram_char_frac
          FROM a)
        SELECT doc_id, top_gram, top_gram_char_frac, dup_gram_char_frac,
          CAST(top_gram_char_frac <= ${cfg.maxTopGramCharFrac} AS BIGINT)
            AS r_top_gram,
          CAST(dup_gram_char_frac <= ${cfg.maxDupGramCharFrac} AS BIGINT)
            AS r_dup_gram,
          CAST(top_gram_char_frac <= ${cfg.maxTopGramCharFrac}
            AND dup_gram_char_frac <= ${cfg.maxDupGramCharFrac} AS BIGINT)
            AS keep
        FROM f ORDER BY doc_id"""))
  }

  /** q59 — corpus vocabulary: global top-k tokens by frequency with a
    * deterministic (count desc, token) tie-break — the
    * tokenizer-training / frequency-analysis step. Map-side partial
    * counts collapse each partition's tokens before the ONE exchange,
    * and the global top-k is a TakeOrderedAndProject (no full sort, k
    * rows per partition reach the driver-side merge), so a 100 TB
    * corpus moves only its distinct-token counts.
    */
  private val q59 = Q("q59_vocab_topk",
    (s, dir) => {
      t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)
    },
    Some(s"""WITH nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      tok AS (SELECT UNNEST(toks) AS token FROM nt)
      SELECT token, COUNT(*) AS n FROM tok
      WHERE LENGTH(token) > 0
      GROUP BY token ORDER BY n DESC, token LIMIT 100"""))

  /** q60 — PII redaction ([[graft.functions.PiiRules]]): the corpus has
    * no organic PII, so the query plants deterministic emails/phones/IPs
    * derived from doc_id into the text and the oracle plants the SAME —
    * redaction and counts then compare exactly (one regexp cascade in a
    * fixed fold order, patterns in the Java∩RE2 dialect).
    */
  private val q60 = {
    val cfg = graft.functions.PiiRules
    Q("q60_pii_redaction",
      (s, dir) => {
        val planted = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
          .select(col("doc_id"), concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"),
            lit(" or admin@test.org, call 555-123-4567, host 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".17 end")).as("t"))
        val withCounts = cfg.counts(col("t")).foldLeft(planted) {
          case (d, (n, c)) => d.withColumn(n, c)
        }
        withCounts
          .withColumn("redacted", cfg.redact(col("t")))
          .select(col("doc_id"), col("n_email"), col("n_phone"),
            col("n_ip"), col("redacted"))
          .orderBy(col("doc_id"))
      },
      Some {
        val Seq(email, phone, ip) = graft.functions.PiiRules.rules.map(_._2)
        s"""WITH d AS (SELECT doc_id,
            text || ' contact user' || doc_id || '@mail.example.com' ||
            ' or admin@test.org, call 555-123-4567, host 10.0.' ||
            (doc_id % 256) || '.17 end' AS t
          FROM documents)
        SELECT doc_id,
          CAST(LEN(REGEXP_EXTRACT_ALL(t, '$email')) AS BIGINT) AS n_email,
          CAST(LEN(REGEXP_EXTRACT_ALL(t, '$phone')) AS BIGINT) AS n_phone,
          CAST(LEN(REGEXP_EXTRACT_ALL(t, '$ip')) AS BIGINT) AS n_ip,
          REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(t,
            '$email', '[EMAIL]', 'g'),
            '$phone', '[PHONE]', 'g'),
            '$ip', '[IP]', 'g') AS redacted
        FROM d ORDER BY doc_id"""
      })
  }

  /** q61 — near-dup clusters + survivor election
    * ([[graft.operators.Dedup.neardupClusters]]): the stage between pair
    * generation and deletion. Near-dup pairs are not transitive-closed,
    * so the LSH+verify pairs (q18's pipeline) are grouped into connected
    * components by iterative min-label propagation; one survivor (min
    * id) is elected per component. The oracle transitively closes the
    * same verified pairs with a recursive CTE — at sf0.01 the graph has
    * a 3-member chain, so a labeling that only looked at direct pairs
    * (no propagation) fails the hash compare.
    */
  private val q61 = Q("q61_neardup_clusters",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text",
        shingleN = 3, k = 16, bands = 4)
      val pairs = Dedup.verifyJaccard(cands, docs, "doc_id", "text",
        shingleN = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      Dedup.neardupClusters(pairs)
        .select(col("comp"), col("n_members"), col("survivor_id"),
          col("n_removed"))
        .orderBy(col("comp"))
    },
    Some(s"""WITH RECURSIVE nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      sh AS (SELECT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS sh FROM nt),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      pairs AS (SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
          >= 0.2),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      cc AS (SELECT id, id AS comp FROM nodes
        UNION
        SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON e.src = cc.id),
      lab AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id)
      SELECT comp, COUNT(*) AS n_members, MIN(id) AS survivor_id,
        COUNT(*) - 1 AS n_removed
      FROM lab GROUP BY comp ORDER BY comp"""))

  /** q65 — AllPairs prefix-filtered exact Jaccard at the near-dup
    * threshold (0.8): identical pairs/values to the q17 inverted-index
    * form, but the index holds only rarest-first prefixes, so the
    * quadratic within-bucket term shrinks with the threshold (3.1× at
    * sf1 — PLANS.md sf1 spot check). The oracle is the SAME SQL as
    * q17's at 0.8 — the prefix filter must be invisible in the result.
    */
  private val q65 = Q("q65_dedup_jaccard_prefix",
    (s, dir) => {
      Dedup.jaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("inter"), col("n_a"),
          col("n_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      sh AS (SELECT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS sh FROM nt),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id)
      SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
        (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
          AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
        >= 0.8
      ORDER BY id_a, id_b"""))

  /** q66 — q61's near-dup cluster summary with the star-contraction
    * labeler: LSH candidates → exact verify → large-star/small-star CC
    * (O(log n) rounds vs q61's one-round-per-hop propagation). Shares
    * q61's recursive-CTE oracle verbatim — both labelings must produce
    * the same components.
    */
  private val q66 = Q("q66_neardup_clusters_star",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text",
        shingleN = 3, k = 16, bands = 4)
      val pairs = Dedup.verifyJaccard(cands, docs, "doc_id", "text",
        shingleN = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      Dedup.neardupClustersStar(pairs)
        .select(col("comp"), col("n_members"), col("survivor_id"),
          col("n_removed"))
        .orderBy(col("comp"))
    },
    q61.oracle)

  /** q75 — filter-funnel audit ([[graft.functions.QualityRules.funnel]]):
    * per-rule attrition accounting in pipeline order — outright fails,
    * stage attrition (passed everything earlier, removed here),
    * unique fails (relaxing just this rule rescues them), cumulative
    * survivors. One global aggregate; the oracle recomputes all four
    * counts per rule from the q42 flag CTE.
    */
  private val q75 = {
    val cfg = graft.functions.QualityRules.Config()
    Q("q75_filter_funnel",
      (s, dir) => graft.functions.QualityRules
        .funnel(t(s, dir, "documents"), "text", cfg),
      Some {
        val flags = gopherFlagsSql(cfg)
        val flagSel = flags.map { case (n, e) => s"$e AS $n" }
          .mkString(", ")
        val ruleNames = flags.map(_._1)
        val stages = ruleNames.zipWithIndex.map { case (r, i) =>
          val prefix = ruleNames.take(i).map(p => s"$p = 1")
            .padTo(1, "TRUE").mkString(" AND ")
          val others = ruleNames.filterNot(_ == r).map(o => s"$o = 1")
            .mkString(" AND ")
          val cum = ruleNames.take(i + 1).map(p => s"$p = 1")
            .mkString(" AND ")
          s"""SELECT CAST(${i + 1} AS BIGINT) AS stage, '$r' AS rule,
            CAST(COALESCE(SUM(CASE WHEN $r = 0 THEN 1 END), 0)
              AS BIGINT) AS n_fail,
            CAST(COALESCE(SUM(CASE WHEN $prefix AND $r = 0 THEN 1 END), 0)
              AS BIGINT) AS n_attrition,
            CAST(COALESCE(SUM(CASE WHEN $others AND $r = 0 THEN 1 END), 0)
              AS BIGINT) AS n_unique_fail,
            CAST(COALESCE(SUM(CASE WHEN $cum THEN 1 END), 0)
              AS BIGINT) AS n_survive
          FROM f"""
        }
        s"""WITH $gopherMeasuresCtesSql,
        f AS (SELECT doc_id, $flagSel FROM m)
        ${stages.mkString(" UNION ALL ")}
        ORDER BY stage"""
      })
  }

  /** q83 — incremental-ingest dedup: screen a NEW BATCH against the
    * STANDING CORPUS ([[Dedup.lshCandidatePairsAgainst]]) without ever
    * generating corpus-vs-corpus pairs — the steady-state shape of a
    * continuously-fed pretraining corpus (the reference refreshes its
    * store per-DAG-run and dedups only by key upsert; this is the fuzzy
    * generalization for ingest). Corpus/batch split is the deterministic
    * md5 bucket (80/20, salt "ingest") so the oracle can replay it.
    * Recall is structural on this gate: the cross-pair truth set is a
    * subset of q18's truth set, and q18's config has oracle-proven full
    * recall at t=0.2 on this fixture; the candidate set here is exactly
    * the cross restriction of q18's candidate set (same signatures).
    */
  private val q83 = Q("q83_incremental_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = math.round(0.8 * Sampling.BucketSpace)
      val bucket = Sampling.hashBucket(col("doc_id"), "ingest")
      val corpus = docs.filter(bucket < cut)
      val batch = docs.filter(bucket >= cut)
      val cands = Dedup.lshCandidatePairsAgainst(corpus, batch,
        "doc_id", "text", shingleN = 3, k = 16, bands = 4)
      // ids are globally unique across the split, so the shared-frame
      // verifier attaches the right shingle set to each side
      Dedup.verifyJaccard(cands, docs, "doc_id", "text",
        shingleN = 3, threshold = 0.2)
        .select(col("id_a").as("corpus_id"), col("id_b").as("batch_id"),
          col("jaccard"))
        .orderBy(col("corpus_id"), col("batch_id"))
    },
    Some(incrementalDedupOracleSql))

  /** q83's oracle body, shared VERBATIM with q138 (served twin — the
    * q89/q130 contract: a persisted-state serve must gate against the
    * exact oracle its inline form does).
    */
  private[queries] def incrementalDedupOracleSql: String = {
    val h = SamplingQueries.hashSql("ingest", "doc_id")
    val bucket = SamplingQueries.bucketSql("h")
    val cut = math.round(0.8 * Sampling.BucketSpace)
    s"""WITH b AS (SELECT doc_id, text, $h AS h FROM documents),
      sides AS (SELECT doc_id, text,
        CASE WHEN $bucket < $cut THEN 'corpus' ELSE 'batch' END AS side
        FROM b),
      nt AS (SELECT doc_id, side,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM sides),
      sh AS (SELECT doc_id, side, UNNEST(${shinglesSql("toks", 3)}) AS sh
        FROM nt),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS corpus_id, y.doc_id AS batch_id,
          COUNT(*) AS inter
        FROM sh x JOIN sh y ON x.sh = y.sh
        WHERE x.side = 'corpus' AND y.side = 'batch'
        GROUP BY x.doc_id, y.doc_id)
      SELECT corpus_id, batch_id,
        (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
          AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = corpus_id
      JOIN sizes sb ON sb.doc_id = batch_id
      WHERE (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
        >= 0.2
      ORDER BY corpus_id, batch_id"""
  }

  /** q84 — EXACT φ-heavy-hitter vocabulary via the mergeable
    * Misra–Gries sketch + candidate recount
    * ([[Profile.heavyHitters]], [[graft.plans.MisraGriesAgg]]) — the
    * scale twin of q59's exact top-k: q59's hash-agg exchanges the full
    * vocabulary; this path moves ≤ k counters per partition and then
    * recounts ≤ k candidates, so the exchange size is independent of
    * corpus size. The answer is exact (MG candidates are a proven
    * superset of the φ-heavy set), so the oracle is a plain
    * GROUP BY / HAVING over the same tokenization.
    */
  private val q84 = Q("q84_heavy_hitters",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs
        .select(explode(TextFunctions.tokens(col("text"))).as("item"))
        .filter(col("item") =!= "")
      Profile.heavyHitters(toks, "item", phi = 0.005)
        .orderBy(col("cnt").desc, col("item"))
    },
    Some(s"""WITH nt AS (SELECT STRING_SPLIT(${normSql("text")}, ' ')
        AS toks FROM documents),
      tok AS (SELECT UNNEST(toks) AS item FROM nt),
      t2 AS (SELECT item FROM tok WHERE item <> ''),
      tot AS (SELECT COUNT(*) AS n FROM t2)
      SELECT item, COUNT(*) AS cnt FROM t2 GROUP BY item
      HAVING COUNT(*) >= CAST(CEIL(0.005 * (SELECT n FROM tot)) AS BIGINT)
      ORDER BY cnt DESC, item"""))

  /** q85 — exact incremental dedup of an ingest batch against the
    * standing corpus via the bloom-prefiltered screen
    * ([[Dedup.newAgainstCorpus]]): one corpus scan folds fingerprints
    * into Spark's mergeable BloomFilterAggregate, the batch filters
    * map-side through might_contain, and only bloom-positive keys are
    * broadcast back for an exact confirming semi-scan — zero corpus
    * shuffles, vs the plain anti-join that exchanges every corpus
    * fingerprint. Result is EXACT (bloom has no false negatives; the
    * confirm pass removes false positives), so the oracle is a plain
    * NOT EXISTS on the fingerprint over the same 80/20 md5 split as
    * q83.
    */
  private val q85 = Q("q85_incremental_exact_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = math.round(0.8 * Sampling.BucketSpace)
      val bucket = Sampling.hashBucket(col("doc_id"), "ingest")
      val corpus = docs.filter(bucket < cut)
      val batch = docs.filter(bucket >= cut)
      Dedup.newAgainstCorpus(corpus, batch, "doc_id", "text",
        estItems = 100000L)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some {
      val h = SamplingQueries.hashSql("ingest", "doc_id")
      val bucket = SamplingQueries.bucketSql("h")
      val cut = math.round(0.8 * Sampling.BucketSpace)
      s"""WITH b AS (SELECT doc_id, text, $h AS h FROM documents),
        sides AS (SELECT doc_id, md5(${normSql("text")}) AS fp,
          CASE WHEN $bucket < $cut THEN 'corpus' ELSE 'batch' END AS side
          FROM b)
        SELECT bt.doc_id FROM sides bt
        WHERE bt.side = 'batch' AND NOT EXISTS (
          SELECT 1 FROM sides c WHERE c.side = 'corpus' AND c.fp = bt.fp)
        ORDER BY bt.doc_id"""
    })

  /** Fixed retrieval queries for q88 (normalized under the corpus
    * tokenization before broadcasting).
    */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark join fast",
    1L -> "hash table scan",
    2L -> "slow query window")

  /** q88 — BM25 keyword retrieval top-k ([[graft.operators.Bm25]]): the
    * lexical complement to the ANN family. Term statistics are
    * restricted map-side to the query vocabulary (exchanges bounded by
    * |vocab|, never the corpus vocabulary), idf is the margin-audited
    * ⌊1e6·ln⌋ quantization (the q72/q74 kit), and per-term
    * contributions floor to exact longs before summation so the score
    * is an order-independent integer.
    */
  private val q88 = Q("q88_bm25_topk",
    (s, dir) => {
      graft.operators.Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
        bm25Queries, k = 10, minQuantMargin = Some(5e-4))
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("qid"), col("rk"))
    },
    Some(bm25OracleSql(10)))

  /** The q88 oracle body, shared verbatim with q125 (a SERVED
    * persisted inverted index must equal the inline corpus-scan
    * pipeline bit-for-bit, so one SQL replay gates both).
    */
  private def bm25OracleSql(k: Int): String = {
    val vocab = bm25Queries
      .flatMap(_._2.split(' ')).distinct.sorted
      .map(t => s"'$t'").mkString(", ")
    val qvals = bm25Queries.flatMap { case (qid, text) =>
      text.split(' ').distinct.map(t => s"(CAST($qid AS BIGINT), '$t')")
    }.mkString(", ")
    val k1p1 = 1.2 + 1.0
    val oneMinusB = 1.0 - 0.75
    val dl = lenTokSql("toks", "nrm")
    s"""WITH nt AS (SELECT doc_id, ${normSql("text")} AS nrm,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      tk AS (SELECT doc_id, toks, CAST($dl AS BIGINT) AS dl FROM nt),
      stats AS (SELECT COUNT(*) AS n,
        CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS sumdl FROM tk),
      terms AS (SELECT doc_id, dl, UNNEST(toks) AS term FROM tk),
      ft AS (SELECT doc_id, dl, term FROM terms
        WHERE term IN ($vocab)),
      tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM ft
        GROUP BY doc_id, dl, term),
      df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ft
        GROUP BY term),
      idf AS (SELECT term, CAST(FLOOR(1000000.0 * LN(
          (CAST(s.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
            / (CAST(df.df AS DOUBLE) + 0.5))) AS BIGINT) AS idfq
        FROM df CROSS JOIN stats s),
      qt (qid, term) AS (VALUES $qvals),
      contrib AS (SELECT q.qid, t.doc_id,
          CAST(FLOOR(CAST(i.idfq AS DOUBLE) *
            ((CAST(t.tf AS DOUBLE) * $k1p1) /
             (CAST(t.tf AS DOUBLE) + 1.2 *
              ($oneMinusB + 0.75 * CAST(t.dl AS DOUBLE) /
                (SELECT CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)
                 FROM stats))))) AS BIGINT) AS c
        FROM tf t JOIN idf i USING (term) JOIN qt q USING (term)),
      score AS (SELECT qid, doc_id, CAST(SUM(c) AS BIGINT) AS score_q
        FROM contrib GROUP BY qid, doc_id),
      ranked AS (SELECT qid, doc_id, score_q,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY score_q DESC, doc_id) AS rk
        FROM score)
      SELECT qid, doc_id, score_q, CAST(rk AS BIGINT) AS rk
      FROM ranked WHERE rk <= $k ORDER BY qid, rk"""
  }

  /** q125 — SERVED persisted inverted index
    * ([[graft.operators.LexIndex]]): build the BM25 index ONCE into a
    * TableStore (postings range-clustered by term + analyze()d file
    * stats), then serve the q88 query batch through
    * [[graft.operators.LexIndex.topKServed]] — vocab-predicated
    * `readWhere` postings reads with FILE-LEVEL pruning, N/avgdl from
    * the one stats row, NO corpus text scan. The oracle is VERBATIM
    * q88's: the persisted-statistics serving path must reproduce the
    * inline corpus-scan pipeline bit-for-bit (LexIndexSpec covers
    * refresh ≡ rebuild, generation pinning, and the pruning plan).
    */
  private val q125 = Q("q125_bm25_served_index",
    (s, dir) => {
      Scratch.withDir("graft_q125_lex") { root =>
        val store = new graft.sources.TableStore(s, root)
        graft.operators.LexIndex.buildAndSave(store, "lex",
          t(s, dir, "documents"), "doc_id", "text")
        graft.operators.LexIndex.topKServed(store, "lex", bm25Queries,
            k = 10, minQuantMargin = Some(5e-4))
          .withColumn("rk", col("rk").cast("long"))
          .orderBy(col("qid"), col("rk"))
      }(s)
    },
    Some(bm25OracleSql(10)))

  /** q89 — hybrid retrieval: BM25 lexical top-20 fused with exact
    * cosine top-20 by reciprocal-rank fusion
    * ([[graft.operators.Fusion.rrf]]) — the standard two-channel RAG
    * retrieval shape. `embeddings.vec_id` is treated as the embedding
    * of `documents.doc_id` (same id space, a fixture convention — the
    * gate checks fusion MECHANICS: full-outer rank join, 1/(c+rk)
    * arithmetic, re-rank). Both channels are bounded top-n lists, so
    * fusion cost is O(|queries|·n) regardless of corpus size.
    */
  private val q89 = Q("q89_hybrid_rrf",
    (s, dir) => {
      val lex = graft.operators.Bm25.topK(t(s, dir, "documents"),
        "doc_id", "text", bm25Queries, k = 20,
        minQuantMargin = Some(5e-4))
        .select(col("qid"), col("doc_id"), col("rk"))
      graft.operators.Fusion.rrf(lex, hybridVecChannel(s, dir), k = 10)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("qid"), col("rk"))
    },
    Some(hybridRrfOracleSql))

  /** The q89 vector channel (exact cosine top-20 at qid < 3), shared
    * with q130's served twin.
    */
  private def hybridVecChannel(s: org.apache.spark.sql.SparkSession,
                               dir: String)
      : org.apache.spark.sql.DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(
        queries = e.filter(col("vec_id") < 3), corpus = e,
        qidCol = "vec_id", idCol = "vec_id", vecCol = "embedding",
        k = 20)
      .select(col("qid"), col("nid").as("doc_id"), col("rk"))
  }

  /** q130 — hybrid retrieval SERVED from the persisted inverted index
    * ([[graft.operators.LexIndex.topKServed]] at k = 20 fused with the
    * exact vector channel): the complete RAG serving story with the
    * lexical side never scanning corpus text. The oracle is VERBATIM
    * q89's — a served hybrid must reproduce the inline one
    * bit-for-bit (the q119/q125 persisted-twin contract).
    */
  private val q130 = Q("q130_hybrid_rrf_served",
    (s, dir) => {
      Scratch.withDir("graft_q130_lex") { root =>
        val store = new graft.sources.TableStore(s, root)
        graft.operators.LexIndex.buildAndSave(store, "lex",
          t(s, dir, "documents"), "doc_id", "text")
        val lex = graft.operators.LexIndex.topKServed(store, "lex",
            bm25Queries, k = 20, minQuantMargin = Some(5e-4))
          .select(col("qid"), col("doc_id"), col("rk"))
        graft.operators.Fusion.rrf(lex, hybridVecChannel(s, dir), k = 10)
          .withColumn("rk", col("rk").cast("long"))
          .orderBy(col("qid"), col("rk"))
      }(s)
    },
    Some(hybridRrfOracleSql))

  /** q89's oracle body, shared verbatim with q130 (served twin). */
  private def hybridRrfOracleSql: String = {
      // lexical CTE chain = q88's oracle at k=20; vector = q20's at
      // qid<3/k=20; fusion mirrors Fusion.rrf's expression order
      val vocab = bm25Queries
        .flatMap(_._2.split(' ')).distinct.sorted
        .map(t => s"'$t'").mkString(", ")
      val qvals = bm25Queries.flatMap { case (qid, text) =>
        text.split(' ').distinct.map(t => s"(CAST($qid AS BIGINT), '$t')")
      }.mkString(", ")
      val k1p1 = 1.2 + 1.0
      val oneMinusB = 1.0 - 0.75
      val dl = lenTokSql("toks", "nrm")
      s"""WITH nt AS (SELECT doc_id, ${normSql("text")} AS nrm,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
        tk AS (SELECT doc_id, toks, CAST($dl AS BIGINT) AS dl FROM nt),
        stats AS (SELECT COUNT(*) AS n,
          CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS sumdl FROM tk),
        terms AS (SELECT doc_id, dl, UNNEST(toks) AS term FROM tk),
        ft AS (SELECT doc_id, dl, term FROM terms
          WHERE term IN ($vocab)),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM ft
          GROUP BY doc_id, dl, term),
        df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ft
          GROUP BY term),
        idf AS (SELECT term, CAST(FLOOR(1000000.0 * LN(
            (CAST(s.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
              / (CAST(df.df AS DOUBLE) + 0.5))) AS BIGINT) AS idfq
          FROM df CROSS JOIN stats s),
        qt (qid, term) AS (VALUES $qvals),
        contrib AS (SELECT q.qid, t.doc_id,
            CAST(FLOOR(CAST(i.idfq AS DOUBLE) *
              ((CAST(t.tf AS DOUBLE) * $k1p1) /
               (CAST(t.tf AS DOUBLE) + 1.2 *
                ($oneMinusB + 0.75 * CAST(t.dl AS DOUBLE) /
                  (SELECT CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)
                   FROM stats))))) AS BIGINT) AS c
          FROM tf t JOIN idf i USING (term) JOIN qt q USING (term)),
        score AS (SELECT qid, doc_id, CAST(SUM(c) AS BIGINT) AS score_q
          FROM contrib GROUP BY qid, doc_id),
        lex AS (SELECT qid, doc_id, rk FROM (SELECT qid, doc_id,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY score_q DESC, doc_id) AS rk
          FROM score) WHERE rk <= 20),
        qv AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS av
          FROM embeddings WHERE vec_id < 3),
        cv AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS bv
          FROM embeddings),
        scored AS (SELECT qid, nid,
          (list_dot_product(bv, av) /
            (SQRT(list_dot_product(av, av)) *
             SQRT(list_dot_product(bv, bv)))) AS sim
          FROM cv, qv),
        vec AS (SELECT qid, nid AS doc_id, rk FROM (SELECT qid, nid, sim,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid)
              AS rk
          FROM scored WHERE sim IS NOT NULL) WHERE rk <= 20),
        fused AS (SELECT COALESCE(l.qid, v.qid) AS qid,
            COALESCE(l.doc_id, v.doc_id) AS doc_id,
            COALESCE(1.0 / (60.0 + CAST(l.rk AS DOUBLE)), 0.0) +
              COALESCE(1.0 / (60.0 + CAST(v.rk AS DOUBLE)), 0.0) AS rrf
          FROM lex l FULL OUTER JOIN vec v
            ON l.qid = v.qid AND l.doc_id = v.doc_id),
        ranked AS (SELECT qid, doc_id, rrf,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY rrf DESC, doc_id) AS rk
          FROM fused)
        SELECT qid, doc_id, rrf, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 10 ORDER BY qid, rk"""
  }

  /** q96 — PMI collocations ([[graft.operators.Collocations.topPmi]]):
    * top-30 adjacent pairs by quantized ⌊10⁶·ln⌋ pointwise mutual
    * information, minCount 5. Margin audit (verify-skill rule): min
    * floor-boundary distance 1.1e-04 at sf0.01, 2.0e-04 at sf0.1 —
    * ≥ 6 orders above cross-engine ln drift.
    */
  private val q96 = Q("q96_collocations_pmi",
    (s, dir) => {
      graft.operators.Collocations.topPmi(
          t(s, dir, "documents"), "text", k = 30, minCount = 5)
        .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
    },
    Some(s"""WITH nt AS (SELECT doc_id, ${normSql("text")} AS nrm,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks
      FROM documents WHERE text IS NOT NULL AND
        LENGTH(${normSql("text")}) > 0),
    uni AS (SELECT t.tok AS w, COUNT(*) AS c
      FROM nt, UNNEST(toks) AS t(tok) GROUP BY t.tok),
    n1 AS (SELECT SUM(c) AS v FROM uni),
    bg AS (SELECT tok1 AS w1, tok2 AS w2, COUNT(*) AS c12 FROM
      (SELECT toks[CAST(i + 1 AS INT)] AS tok1,
          toks[CAST(i + 2 AS INT)] AS tok2
       FROM nt, UNNEST(RANGE(0, GREATEST(LEN(toks) - 1, 0))) AS t(i))
      GROUP BY 1, 2),
    n12 AS (SELECT SUM(c12) AS v FROM bg),
    pmi AS (SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
        CAST(FLOOR(1000000.0 * LN(
          (CAST(c12 AS DOUBLE) / CAST((SELECT v FROM n12) AS DOUBLE)) /
          ((CAST(u1.c AS DOUBLE) / CAST((SELECT v FROM n1) AS DOUBLE)) *
           (CAST(u2.c AS DOUBLE) / CAST((SELECT v FROM n1) AS DOUBLE)))))
          AS BIGINT) AS pmi_q
      FROM bg JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2
      WHERE c12 >= 5),
    ranked AS (SELECT w1, w2, c12, c1, c2, pmi_q,
        CAST(ROW_NUMBER() OVER (ORDER BY pmi_q DESC, w1, w2) AS BIGINT)
          AS rk
      FROM pmi)
    SELECT w1, w2, c12, c1, c2, pmi_q, rk FROM ranked WHERE rk <= 30
    ORDER BY pmi_q DESC, w1, w2"""))

  /** q108 — HyperLogLog distinct estimate (round 8,
    * [[graft.operators.Sketches.hllRegisters]]/[[Sketches.hllEstimate]]):
    * per-lang cardinality of `doc_id % 997` at p=6 (m=64 registers),
    * next to the exact distinct count — the audit form. Every register
    * (md5 bucket, hex-algebra leading-zero rank) and the exact-integer
    * harmonic sum (Σ 2^−M scaled by 2^49, summed as integers so no
    * float order-dependence exists to drift) and the ⌊α·m²·2^49/S⌋
    * division are replayed by the oracle digit-for-digit. The raw
    * estimate reads high below the ~2.5m linear-counting regime
    * (documented; v_empty is emitted for the correction) — the gate
    * pins the ALGEBRA, accuracy is spec-pinned at p=10/n=60k in
    * SketchesSpec.
    */
  private val q108 = {
    val (p, salt) = (6, "graft")
    Q("q108_hll_distinct",
      (s, dir) => {
        val keyed = t(s, dir, "documents")
          .select(col("lang"), (col("doc_id") % 997).as("key"))
        val regs = Sketches.hllRegisters(keyed, Seq("lang"), "key", p, salt)
        val est = Sketches.hllEstimate(regs, Seq("lang"), p)
        val exact = keyed.groupBy(col("lang"))
          .agg(countDistinct(col("key")).as("n_exact"))
        exact.join(est, Seq("lang"))
          .select(col("lang"), col("n_exact"), col("v_empty"),
            col("s_scaled").cast("long").as("s_scaled"), col("est"))
          .orderBy(col("lang"))
      },
      Some {
        val bucket4 = SamplingQueries.bucketSql("hb", 4)
        val n0 = (BigInt(709) * 64 * 64 * BigInt(2).pow(49)).toString
        s"""WITH k AS (SELECT lang, doc_id % 997 AS key FROM documents),
        h AS (SELECT lang, key,
            ${SamplingQueries.hashSql(s"$salt:b", "key")} AS hb,
            SUBSTRING(${SamplingQueries.hashSql(s"$salt:r", "key")}, 1, 12)
              AS hr
          FROM k),
        z AS (SELECT lang, key, CAST($bucket4 AS BIGINT) % 64 AS bucket,
            LENGTH(REGEXP_EXTRACT(hr, '^0*', 0)) AS z,
            SUBSTRING(hr, LENGTH(REGEXP_EXTRACT(hr, '^0*', 0)) + 1, 1) AS c
          FROM h),
        rho AS (SELECT lang, bucket,
            CASE WHEN z = 12 THEN 49
                 ELSE 4*z + (CASE WHEN c = '1' THEN 3
                                  WHEN c IN ('2','3') THEN 2
                                  WHEN c IN ('4','5','6','7') THEN 1
                                  ELSE 0 END) + 1 END AS rho
          FROM z),
        regs AS MATERIALIZED (SELECT lang, bucket, MAX(rho) AS mm
          FROM rho GROUP BY 1, 2),
        est AS (SELECT lang, COUNT(*) AS present,
            SUM(CAST(POWER(2, 49 - mm) AS HUGEINT)) AS sp
          FROM regs GROUP BY 1),
        fin AS (SELECT lang, 64 - present AS v_empty,
            sp + (64 - present) * CAST(POWER(2, 49) AS HUGEINT) AS s
          FROM est),
        ex AS (SELECT lang, COUNT(DISTINCT doc_id % 997) AS n_exact
          FROM documents GROUP BY 1)
        SELECT ex.lang, CAST(n_exact AS BIGINT) AS n_exact,
          CAST(v_empty AS BIGINT) AS v_empty, CAST(s AS BIGINT) AS s_scaled,
          CAST(CAST('$n0' AS HUGEINT) // (1000 * s) AS BIGINT) AS est
        FROM ex JOIN fin ON ex.lang = fin.lang ORDER BY ex.lang"""
      })
  }

  /** q110 — Unicode NFC normalization (round 8, native
    * [[graft.plans.NfcNormalizeExpr]] kernel behind
    * [[TextFunctions.nfc]]): canonically-equivalent text must hash
    * together before dedup sees it. Per doc a synthesized fragment
    * cycles the canonical-composition cases — combining acute/diaeresis
    * onto a base letter, decomposed Hangul jamo, an already-precomposed
    * char, plain ASCII — and the oracle rebuilds the identical code
    * points with CHR() and replays through DuckDB's `nfc_normalize`
    * (both sides implement the one Unicode-standard algorithm, so
    * normalized strings, code-point lengths, and changed flags match
    * byte-for-byte). `text_is_nfc` additionally pins the corpus text
    * column through both engines' normalizers.
    */
  private val q110 = Q("q110_nfc_normalize",
    (s, dir) => {
      val k = pmod(col("doc_id"), lit(5))
      val frag = when(k === 0, lit("e\u0301"))
        .when(k === 1, lit("o\u0308"))
        .when(k === 2, lit("\u1100\u1161"))
        .when(k === 3, lit("\u00e9"))
        .otherwise(lit("plain"))
      val raw = concat(lit("w"), frag, lit("z"))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"), col("text"))
        .select(col("doc_id"),
          length(col("raw")).cast("int").as("raw_cp"),
          TextFunctions.nfc(col("raw")).as("nfc_str"),
          length(TextFunctions.nfc(col("raw"))).cast("int").as("nfc_cp"),
          (TextFunctions.nfc(col("raw")) =!= col("raw")).as("changed"),
          (TextFunctions.nfc(col("text")) === col("text")).as("text_is_nfc"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH f AS (SELECT doc_id,
          CASE doc_id % 5
            WHEN 0 THEN CHR(101) || CHR(769)
            WHEN 1 THEN CHR(111) || CHR(776)
            WHEN 2 THEN CHR(4352) || CHR(4449)
            WHEN 3 THEN CHR(233)
            ELSE 'plain' END AS frag,
          text FROM documents),
      r AS (SELECT doc_id, 'w' || frag || 'z' AS raw, text FROM f)
      SELECT doc_id, CAST(LENGTH(raw) AS INT) AS raw_cp,
        nfc_normalize(raw) AS nfc_str,
        CAST(LENGTH(nfc_normalize(raw)) AS INT) AS nfc_cp,
        nfc_normalize(raw) <> raw AS changed,
        nfc_normalize(text) = text AS text_is_nfc
      FROM r ORDER BY doc_id"""))

  /** q115 — Aho–Corasick blocklist screen
    * ([[graft.plans.AcMatchExpr]] behind
    * [[TextFunctions.blocklistMatches]]): which of K policy phrases
    * occur in each document, ONE automaton pass per doc instead of K
    * `contains` scans — the C4-badwords corpus-clean shape. The
    * pattern set nests prefixes/suffixes ("art" ⊂ "part", a two-word
    * phrase) so the fail-link/output-inheritance paths are exercised
    * under the gate; the oracle replays plain per-pattern containment
    * (the semantics the automaton must reproduce exactly).
    */
  private val q115 = {
    val pats = Seq("merge join", "window", "spark", "scan", "art",
      "part", "zzznope")
    val plist = pats.map(p => s"'$p'").mkString("[", ", ", "]")
    val hits = s"LIST_FILTER(RANGE(0, ${pats.size}), " +
      "i -> CONTAINS(text, pats[CAST(i + 1 AS INT)]))"
    Q("q115_blocklist_screen",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.blocklistMatches(col("text"), pats).as("__ids"))
          .select(col("doc_id"),
            size(col("__ids")).as("n_terms"),
            array_join(transform(col("__ids"),
              i => i.cast("string")), ",").as("term_ids"),
            (size(col("__ids")) > 0).as("flagged"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH p AS (SELECT $plist AS pats)
        SELECT doc_id,
          CAST(LEN($hits) AS INT) AS n_terms,
          COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM($hits,
            i -> CAST(i AS VARCHAR)), ','), '') AS term_ids,
          LEN($hits) > 0 AS flagged
        FROM documents, p ORDER BY doc_id"""))
  }

  /** q116 — Unicode-script histogram ([[graft.plans.ScriptMixExpr]]
    * behind [[TextFunctions.scriptMix]]): per-doc (latin, digit,
    * cyrillic, cjk, other) code-point counts + the mixed-script junk
    * flag. Per doc a synthesized fragment (q110's CHR-rebuild
    * pattern) pins every window edge the kernel documents — Cyrillic
    * base + Supplement (ԁ U+0501), CJK window edges, accented Latin
    * (é ü ñ must count latin, not junk), the excluded × ÷ (must count
    * other) — and the oracle replays the exact code-point windows as
    * RE2 classes over the identical rebuilt string.
    */
  private val q116 = {
    // fragments cycle the script families; code points mirrored into
    // the oracle via CHR() so both engines see the same string
    val frags = Seq(
      "привет ԁ",  // привет + Supplement
      "汉字 一鿿",                    // CJK incl. edges
      "café üñ ×÷",          // é ü ñ + × ÷
      "ab пр 汉 12",                    // three scripts
      "plain 42")
    def chrSql(s: String): String =
      s.codePoints().toArray.map(cp => s"CHR($cp)").mkString(" || ")
    val latCls = """A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}"""
    def cnt(cls: String) =
      s"CAST(LENGTH(REGEXP_REPLACE(raw, '[^$cls]', '', 'g')) AS BIGINT)"
    Q("q116_script_mix",
      (s, dir) => {
        val k = pmod(col("doc_id"), lit(5))
        val frag = when(k === 0, lit(frags(0))).when(k === 1, lit(frags(1)))
          .when(k === 2, lit(frags(2))).when(k === 3, lit(frags(3)))
          .otherwise(lit(frags(4)))
        val mix = TextFunctions.scriptMix(
          concat(col("text"), lit(" "), frag))
        val scripts = Seq(1, 3, 4) // latin, cyrillic, cjk histogram slots
          .map(i => when(element_at(col("__mix"), i) > 0, 1).otherwise(0))
          .reduce(_ + _)
        t(s, dir, "documents")
          .select(col("doc_id"), mix.as("__mix"))
          .select(col("doc_id"),
            element_at(col("__mix"), 1).as("n_latin"),
            element_at(col("__mix"), 2).as("n_digit"),
            element_at(col("__mix"), 3).as("n_cyrillic"),
            element_at(col("__mix"), 4).as("n_cjk"),
            element_at(col("__mix"), 5).as("n_other"),
            (scripts >= 2).as("mixed_script"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH f AS (SELECT doc_id, text || ' ' ||
            CASE doc_id % 5
              WHEN 0 THEN ${chrSql(frags(0))}
              WHEN 1 THEN ${chrSql(frags(1))}
              WHEN 2 THEN ${chrSql(frags(2))}
              WHEN 3 THEN ${chrSql(frags(3))}
              ELSE ${chrSql(frags(4))} END AS raw
          FROM documents),
        c AS (SELECT doc_id,
            ${cnt(latCls)} AS n_latin,
            ${cnt("0-9")} AS n_digit,
            ${cnt("""\x{0400}-\x{052F}""")} AS n_cyrillic,
            ${cnt("""\x{4E00}-\x{9FFF}""")} AS n_cjk,
            CAST(LENGTH(raw) AS BIGINT) AS n_all
          FROM f)
        SELECT doc_id, n_latin, n_digit, n_cyrillic, n_cjk,
          n_all - n_latin - n_digit - n_cyrillic - n_cjk AS n_other,
          (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END +
           CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END +
           CASE WHEN n_cjk > 0 THEN 1 ELSE 0 END) >= 2 AS mixed_script
        FROM c ORDER BY doc_id"""))
  }

  /** q118 — span-level blocklist screen ([[graft.plans.AcSpansExpr]]
    * behind [[TextFunctions.blocklistSpans]]): EVERY match occurrence
    * as (id, start, end), sorted (start, end, id) — the redaction
    * evidence shape. The pattern set nests "art" ⊂ "part" and
    * suffixes "park" ⊂ "spark" so overlap emission and
    * output-inheritance are both under the gate; spans are encoded as
    * zero-padded `start|end|id` strings (padding makes the kernel's
    * numeric order equal lexicographic order) and the oracle replays
    * plain position-scan substring matching per pattern.
    */
  private val q118 = {
    val pats = Seq("spark", "park", "art", "part", "scan", "an")
    val perPat = pats.zipWithIndex.map { case (p, i) =>
      s"""LIST_TRANSFORM(
        LIST_FILTER(RANGE(0, LENGTH(text) - ${p.length} + 1),
          s -> SUBSTR(text, CAST(s + 1 AS INT), ${p.length}) = '$p'),
        s -> printf('%06d|%06d|%03d', s, s + ${p.length}, $i))"""
    }.mkString("[", ", ", "]")
    Q("q118_blocklist_spans",
      (s, dir) => {
        val spans = TextFunctions.blocklistSpans(col("text"), pats)
        t(s, dir, "documents")
          .select(col("doc_id"), spans.as("__sp"))
          .select(col("doc_id"),
            size(col("__sp")).as("n_spans"),
            array_join(transform(col("__sp"), sp =>
              format_string("%06d|%06d|%03d", sp.getField("start"),
                sp.getField("end"), sp.getField("id"))), ",")
              .as("spans_str"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sp AS (SELECT doc_id,
            LIST_SORT(FLATTEN($perPat)) AS spans
          FROM documents)
        SELECT doc_id, CAST(LEN(spans) AS INT) AS n_spans,
          COALESCE(ARRAY_TO_STRING(spans, ','), '') AS spans_str
        FROM sp ORDER BY doc_id"""))
  }

  /** q120 — multi-term interval-union redaction
    * ([[graft.plans.AcRedactExpr]] behind [[TextFunctions.redactTerms]]):
    * the q118 span set's UNION of match intervals is cut and replaced
    * — nested ("art" ⊂ "part") and adjacent matches merge into ONE
    * marker. The oracle replays interval merging as a gaps-and-islands
    * window chain (prev-max-end → island ids → per-island [min,max])
    * and rebuilds the redacted string with an ordered STRING_AGG of the
    * inter-island segments; n_cuts / cut_chars audit the merged
    * intervals on both sides (Spark derives them from
    * [[TextFunctions.blocklistSpans]] with one aggregate() fold).
    */
  private val q120 = {
    val pats = Seq("spark", "park", "art", "part", "scan", "an")
    val perPat = pats.map { p =>
      s"""LIST_TRANSFORM(
        LIST_FILTER(RANGE(0, LENGTH(text) - ${p.length} + 1),
          s -> SUBSTR(text, CAST(s + 1 AS INT), ${p.length}) = '$p'),
        s -> struct_pack(s := s, e := s + ${p.length}))"""
    }.mkString("[", ", ", "]")
    Q("q120_blocklist_redact",
      (s, dir) => {
        val sp = TextFunctions.blocklistSpans(col("text"), pats)
        // merged-interval stats: one left-to-right fold over the
        // (start, end, id)-sorted spans — the same union the kernel
        // cuts, so the counts audit the REDACTION, not the raw spans
        val acc0 = struct(lit(0).as("n"), lit(0).as("ch"),
          lit(-1).as("cs"), lit(-1).as("ce"))
        def st(n: org.apache.spark.sql.Column,
               ch: org.apache.spark.sql.Column,
               cs: org.apache.spark.sql.Column,
               ce: org.apache.spark.sql.Column) =
          struct(n.as("n"), ch.as("ch"), cs.as("cs"), ce.as("ce"))
        val folded = aggregate(sp, acc0, (a, x) =>
          when(a("cs") === -1,
            st(a("n"), a("ch"), x("start"), x("end")))
          .when(x("start") > a("ce"),
            st(a("n") + 1, a("ch") + a("ce") - a("cs"),
              x("start"), x("end")))
          .otherwise(
            st(a("n"), a("ch"), a("cs"), greatest(a("ce"), x("end")))),
          a => struct(
            when(a("cs") === -1, a("n")).otherwise(a("n") + 1).as("n"),
            when(a("cs") === -1, a("ch"))
              .otherwise(a("ch") + a("ce") - a("cs")).as("ch")))
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.redactTerms(col("text"), pats, "[X]")
              .as("redacted"),
            folded.as("__f"))
          .select(col("doc_id"), col("redacted"),
            col("__f.n").cast("long").as("n_cuts"),
            col("__f.ch").cast("long").as("cut_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sp AS (
          SELECT doc_id, UNNEST(FLATTEN($perPat)) AS iv FROM documents),
        flat AS (SELECT doc_id, iv.s AS s, iv.e AS e FROM sp),
        pm AS (SELECT doc_id, s, e,
            COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              AS pmax
          FROM flat),
        isl AS (SELECT doc_id, s, e,
            SUM(CASE WHEN s > pmax THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY s, e) AS island
          FROM pm),
        mi AS (SELECT doc_id, island, MIN(s) AS ms, MAX(e) AS me
          FROM isl GROUP BY doc_id, island),
        seg AS (SELECT m.doc_id, m.ms, m.me, d.text,
            COALESCE(LAG(m.me) OVER (PARTITION BY m.doc_id
              ORDER BY m.ms), 0) AS pe
          FROM mi m JOIN documents d ON d.doc_id = m.doc_id),
        red AS (SELECT doc_id,
            STRING_AGG(SUBSTR(text, CAST(pe + 1 AS INT),
                CAST(ms - pe AS INT)) || '[X]', '' ORDER BY ms)
              || SUBSTR(MIN(text), CAST(MAX(me) + 1 AS INT)) AS r,
            COUNT(*) AS n_cuts, SUM(me - ms) AS cut_chars
          FROM seg GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(r.r, d.text) AS redacted,
          CAST(COALESCE(r.n_cuts, 0) AS BIGINT) AS n_cuts,
          CAST(COALESCE(r.cut_chars, 0) AS BIGINT) AS cut_chars
        FROM documents d LEFT JOIN red r ON d.doc_id = r.doc_id
        ORDER BY d.doc_id"""))
  }

  /** q121 — quality-aware survivor election
    * ([[graft.operators.Dedup.electSurvivorsByQuality]]): q61's
    * near-dup components, but the survivor is the member passing the
    * most [[graft.functions.QualityRules]] gates (ties: more words,
    * then min id) instead of blindly the min id — the retention policy
    * a curation pipeline actually wants ("keep the best copy"). At
    * sf0.01 eight of the 23 components elect a NON-min-id survivor, so
    * a min-id labeling cannot pass the hash compare. The argmax rides
    * the comp aggregate as a lexicographic max(struct) over exact
    * integers (no window); the oracle replays it as a ROW_NUMBER pick
    * over the same (passes, n_words, id) order.
    */
  private val q121 = {
    val cfg = graft.functions.QualityRules.Config()
    Q("q121_cluster_retention",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          shingleN = 3, k = 16, bands = 4)
        val pairs = Dedup.verifyJaccard(cands, docs, "doc_id", "text",
          shingleN = 3, threshold = 0.2)
          .select(col("id_a"), col("id_b"))
        val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
        Dedup.electSurvivorsByQuality(labels, docs, "doc_id", "text", cfg)
          .orderBy(col("comp"))
      },
      Some {
        val passesSql = gopherFlagsSql(cfg)
          .map { case (_, e) => s"($e)" }.mkString("(", " + ", ")")
        s"""WITH RECURSIVE $gopherMeasuresCtesSql,
        sh AS (SELECT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS sh FROM nt),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
          FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id),
        pairs AS (SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
            >= 0.2),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        cc AS (SELECT id, id AS comp FROM nodes
          UNION
          SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON e.src = cc.id),
        lab AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
        scored AS (SELECT l.comp, l.id, $passesSql AS passes, m.n_words
          FROM lab l JOIN m ON m.doc_id = l.id),
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY comp
            ORDER BY passes DESC, n_words DESC, id ASC) AS rn FROM scored)
        SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members,
          MIN(CASE WHEN rn = 1 THEN id END) AS keep_id,
          MIN(CASE WHEN rn = 1 THEN passes END) AS keep_passes,
          MIN(CASE WHEN rn = 1 THEN n_words END) AS keep_words,
          CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
        FROM ranked GROUP BY comp ORDER BY comp"""
      })
  }

  /** q123 — leakage-free (dedup-aware) train/val/test split
    * ([[graft.operators.Sampling.assignSplitsLeakageFree]]): q40's
    * reproducible hash split, but keyed by the near-dup component
    * representative (q61's labels) so a duplicate cluster can never
    * straddle train/test — eval decontamination by construction. At
    * sf0.01 the 23 clusters cover 49 docs; with per-doc keys several
    * straddle, so a split that ignores the labels fails the hash
    * compare. Oracle: the q61 CC replay + the q40 bucket/boundary
    * mirror over COALESCE(comp, doc_id).
    */
  private val q123 = {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    Q("q123_leakage_free_split",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          shingleN = 3, k = 16, bands = 4)
        val pairs = Dedup.verifyJaccard(cands, docs, "doc_id", "text",
          shingleN = 3, threshold = 0.2)
          .select(col("id_a"), col("id_b"))
        val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
        Sampling.assignSplitsLeakageFree(docs, "doc_id", labels,
            splits, salt = "graft")
          .select(col("doc_id"), col("rep_id"),
            Sampling.hashBucket(col("rep_id"), "graft").as("bucket"),
            col("split"))
          .orderBy(col("doc_id"))
      },
      Some {
        val bounds = splits.scanLeft(0.0)(_ + _._2).tail
          .map(c => math.round(c * Sampling.BucketSpace))
        val cases = splits.map(_._1).zip(bounds)
          .map { case (n, b) => s"WHEN bucket < $b THEN '$n'" }
          .mkString(" ")
        s"""WITH RECURSIVE $leakageCtes
        SELECT doc_id, rep_id, bucket, CASE $cases ELSE NULL END AS split
        FROM lb ORDER BY doc_id"""
      })
  }

  /** The q123 leakage-free-split CTE chain (near-dup CC replay →
    * component-representative bucket; ends at `lb` =
    * (doc_id, rep_id, bucket)), shared VERBATIM with q165's
    * split-then-pack composition. Must run under WITH RECURSIVE.
    */
  private[queries] def leakageCtes: String =
    s"""nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS sh FROM nt),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id),
    pairs AS (SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE (CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE))
        >= 0.2),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    cc AS (SELECT id, id AS comp FROM nodes
      UNION
      SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON e.src = cc.id),
    lab AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
    r AS (SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
    lb AS (SELECT doc_id, rep_id, CAST(${SamplingQueries.bucketSql(
        SamplingQueries.hashSql("graft", "rep_id"))} AS BIGINT)
        AS bucket FROM r)"""

  /** The q122 training replay as a reusable CTE chain ending in a
    * `scores(doc_id, y, z, p, pred)` CTE — q122 selects it directly,
    * q176 appends calibration CTEs on top (same bit-exact unrolled
    * GD; one builder so the two gates can never drift apart).
    */
  private[queries] def classifierScoresCtesSql(
      cfg: graft.operators.Classifier.Config,
      qcfg: graft.functions.QualityRules.Config): String = {
        val S = cfg.scale
        val dim = cfg.dim
        def tdiv(a: String, b: String) =
          s"(CASE WHEN ($a) >= 0 THEN ($a) // ($b) ELSE -((-($a)) // ($b)) END)"
        val keepConj = gopherFlagsSql(qcfg)
          .map { case (_, e) => s"($e) = 1" }.mkString(" AND ")
        val bucket = SamplingQueries.bucketSql(
          s"MD5('${cfg.salt}:' || w)")
        val head = s"""WITH $gopherMeasuresCtesSql,
          lab AS MATERIALIZED (SELECT doc_id,
            CAST($keepConj AS BIGINT) AS y FROM m),
          feats AS MATERIALIZED (SELECT n.doc_id, l.y,
              $bucket % $dim AS bucket, COUNT(*) AS cnt
            FROM (SELECT doc_id, UNNEST(LIST_FILTER(toks,
              x -> LENGTH(x) > 0)) AS w FROM nt) n
            JOIN lab l ON l.doc_id = n.doc_id
            GROUP BY n.doc_id, l.y, bucket),
          nn AS MATERIALIZED (SELECT COUNT(DISTINCT doc_id) AS n FROM feats),
          w0 AS MATERIALIZED (SELECT DISTINCT bucket,
            CAST(0 AS BIGINT) AS w FROM feats),
          b0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS b)"""
        val iters = (1 to cfg.iters).map { tt =>
          val den = s"(SELECT n FROM nn) * ${1L << tt}"
          s"""z$tt AS MATERIALIZED (SELECT f.doc_id, MAX(f.y) AS y,
              (SELECT b FROM b${tt - 1}) + COALESCE(SUM(w.w * f.cnt), 0) AS z
            FROM feats f LEFT JOIN w${tt - 1} w ON w.bucket = f.bucket
            GROUP BY f.doc_id),
          e$tt AS MATERIALIZED (SELECT doc_id, y,
            GREATEST(0, LEAST($S, ${S / 2} + ${tdiv("z", "4")})) - y * $S
              AS err FROM z$tt),
          g$tt AS MATERIALIZED (SELECT f.bucket, SUM(e.err * f.cnt) AS g
            FROM feats f JOIN e$tt e ON e.doc_id = f.doc_id
            GROUP BY f.bucket),
          w$tt AS MATERIALIZED (SELECT w.bucket,
              w.w - ${tdiv("COALESCE(g.g, 0)", den)} AS w
            FROM w${tt - 1} w LEFT JOIN g$tt g ON g.bucket = w.bucket),
          b$tt AS MATERIALIZED (SELECT
            (SELECT b FROM b${tt - 1}) -
              ${tdiv(s"(SELECT SUM(err) FROM e$tt)", den)} AS b)"""
        }.mkString(",\n")
        val k = cfg.iters
        val p = s"GREATEST(0, LEAST($S, ${S / 2} + ${tdiv("z", "4")}))"
        s"""$head,
          $iters,
          zf AS (SELECT f.doc_id, MAX(f.y) AS y,
              (SELECT b FROM b$k) + COALESCE(SUM(w.w * f.cnt), 0) AS z
            FROM feats f LEFT JOIN w$k w ON w.bucket = f.bucket
            GROUP BY f.doc_id),
          scores AS (SELECT doc_id, CAST(y AS BIGINT) AS y,
            CAST(z AS BIGINT) AS z, CAST($p AS BIGINT) AS p,
            CAST(2 * $p > $S AS BIGINT) AS pred FROM zf)"""
  }

  /** q122 — in-engine trainable quality classifier
    * ([[graft.operators.Classifier]]): distill the Gopher rule cascade
    * (q42's keep gate = the labels) into a hashed bag-of-words linear
    * model — the fastText-style cheap proxy scorer curation pipelines
    * train so the full corpus can be scored at scan speed. Six
    * full-batch GD steps with the halving schedule η_t = 2^-(t+1);
    * accuracy on the fixture goes 64% (majority) → 78% — the oracle
    * replays EVERY step bit-exactly because training is all integer
    * arithmetic (fixed-point weights, hard-sigmoid surrogate,
    * truncating division — zero transcendentals, so no margin kit).
    * The unrolled SQL materializes per-iteration weight/bias tables
    * w1..w6/b1..b6 (AS MATERIALIZED per the q97 lesson) and scores
    * with the last.
    */
  private val q122 = {
    val cfg = graft.operators.Classifier.Config(dim = 256, iters = 6)
    val qcfg = graft.functions.QualityRules.Config()
    Q("q122_train_classifier",
      (s, dir) => {
        graft.operators.Classifier.trainAndScore(
          t(s, dir, "documents"), "doc_id", "text",
          graft.functions.QualityRules.keep(col("text"), qcfg), cfg)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""${classifierScoresCtesSql(cfg, qcfg)}
        SELECT doc_id, y, z, p, pred FROM scores ORDER BY doc_id"""))
  }

  /** q99 — count-min-sketch point-frequency estimates
    * ([[graft.operators.Sketches.cmsBuild]]/[[Sketches.cmsEstimate]]):
    * build a 4×512 CMS over the token stream, then read back estimates
    * for the 20 most-frequent tokens next to their exact counts — the
    * audit form certifying est ≥ exact and pinning every md5 bucket,
    * every cell count, and every min under the oracle (the kmvDistinct
    * precedent: exact side for the gate, sketch side is the production
    * artifact). At scale only ≤ depth·width cells per partition reach
    * the exchange; the sketch then broadcasts to the key relation.
    */
  private val q99 = {
    val (depth, width, salt) = (4, 512, "cms")
    Q("q99_cms_frequency",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("item"))
          .filter(col("item") =!= "")
        val sketch = Sketches.cmsBuild(toks, "item", depth, width, salt)
        val top = toks.groupBy(col("item"))
          .agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("item")).limit(20)
        Sketches.cmsEstimate(sketch, top, "item", depth, width, salt)
          .select(col("item"), col("n_exact"), col("est").as("n_est"))
          .orderBy(col("n_exact").desc, col("item"))
      },
      Some {
        val cells = (0 until depth).map { j =>
          val h = SamplingQueries.hashSql(s"$salt:$j", "item")
          s"SELECT item, c, $j AS row, " +
            s"${SamplingQueries.bucketSql("h")} % $width AS bucket " +
            s"FROM (SELECT item, c, $h AS h FROM counts)"
        }.mkString(" UNION ALL ")
        s"""WITH nt AS (SELECT STRING_SPLIT(${normSql("text")}, ' ')
            AS toks FROM documents),
          tok AS (SELECT UNNEST(toks) AS item FROM nt),
          counts AS MATERIALIZED (SELECT item, COUNT(*) AS c FROM tok
            WHERE item <> '' GROUP BY item),
          cells AS MATERIALIZED ($cells),
          sketch AS MATERIALIZED (SELECT row, bucket, SUM(c) AS sc
            FROM cells GROUP BY row, bucket),
          top AS (SELECT item, c FROM counts
            ORDER BY c DESC, item LIMIT 20)
        SELECT top.item, CAST(top.c AS BIGINT) AS n_exact,
          CAST(MIN(COALESCE(s.sc, 0)) AS BIGINT) AS n_est
        FROM top
        JOIN cells k ON k.item = top.item
        LEFT JOIN sketch s ON s.row = k.row AND s.bucket = k.bucket
        GROUP BY top.item, top.c
        ORDER BY n_exact DESC, top.item"""
      })
  }

  /** q131 — content-defined chunk dedup
    * ([[graft.operators.Dedup.cdcChunkStats]], LBFS/FastCDC gear-hash
    * boundaries at word granularity): per doc the chunk count, words
    * in corpus-duplicated chunks, and the duplicate fraction in ppm.
    * The oracle replays the boundary rule (md5 of the 2-word window
    * through the STRPOS hex parse, divisor test), the running-sum
    * chunk ids, ordered STRING_AGG chunk rebuild, and the corpus-wide
    * fingerprint counts.
    */
  private val q131 = {
    val d = 8
    val gear = SamplingQueries.bucketSql("md5(CONCAT(pw, ' ', w))")
    Q("q131_cdc_chunk_dedup",
      (s, dir) => {
        graft.operators.Dedup.cdcChunkStats(
            t(s, dir, "documents"), "doc_id", "text", divisor = d)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH nt AS (SELECT doc_id,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
        wp AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
            toks[CAST(t.i + 1 AS INT)] AS w,
            CASE WHEN t.i = 0 THEN NULL
              ELSE toks[CAST(t.i AS INT)] END AS pw
          FROM nt, UNNEST(RANGE(0, LEN(toks))) AS t(i)
          WHERE LEN(toks[CAST(t.i + 1 AS INT)]) > 0),
        bnd AS (SELECT doc_id, pos, w,
            CASE WHEN pos = 0 THEN 1
              WHEN ($gear) % $d = 0 THEN 1 ELSE 0 END AS b
          FROM wp),
        ch AS (SELECT doc_id, pos, w,
            SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS cid
          FROM bnd),
        chunks AS (SELECT doc_id, cid,
            md5(STRING_AGG(w, ' ' ORDER BY pos)) AS fp,
            COUNT(*) AS len
          FROM ch GROUP BY doc_id, cid),
        cnt AS (SELECT fp, COUNT(*) AS n FROM chunks GROUP BY fp),
        agg AS (SELECT c.doc_id, CAST(SUM(c.len) AS BIGINT) AS n_words,
            COUNT(*) AS n_chunks,
            CAST(COALESCE(SUM(CASE WHEN t.n > 1 THEN c.len END), 0)
              AS BIGINT) AS dup_words
          FROM chunks c JOIN cnt t USING (fp) GROUP BY c.doc_id)
        SELECT d.doc_id AS doc_id, COALESCE(a.n_words, 0) AS n_words,
          CAST(COALESCE(a.n_chunks, 0) AS BIGINT) AS n_chunks,
          COALESCE(a.dup_words, 0) AS dup_words,
          CASE WHEN COALESCE(a.n_words, 0) > 0
            THEN (1000000 * a.dup_words) // a.n_words
            ELSE CAST(0 AS BIGINT) END AS dup_ppm
        FROM (SELECT DISTINCT doc_id FROM documents) d
          LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""))
  }

  /** q132 — ROUGE-2 clipped n-gram overlap
    * ([[graft.operators.Eval.rougeN]], Lin 2004): candidate doc i vs
    * reference doc (i + N/2) mod N, per-pair clipped bigram overlap
    * with precision / recall / F1 in exact ppm. The oracle replays the
    * multiset bigram construction (`ngramsSql`, the same windows as
    * the engine's shingle kernel), the per-(pair, gram) counts, the
    * LEAST-clipped inner join, and the three integral divisions
    * (F1 = 2o/(tc+tr) — no harmonic-mean double anywhere).
    */
  private val q132 = Q("q132_rouge_overlap",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.count()
      val cand = d.select(col("doc_id").as("pair_id"),
        col("text").as("cand"))
      val ref = d.select(col("doc_id").as("rid"), col("text").as("ref"))
      val pairs = cand.join(ref,
          col("rid") === pmod(col("pair_id") + lit(n / 2), lit(n)))
        .select(col("pair_id"), col("cand"), col("ref"))
      graft.operators.Eval.rougeN(pairs, "pair_id", "cand", "ref", n = 2)
        .orderBy(col("pair_id"))
    },
    Some(s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      nt AS MATERIALIZED (SELECT doc_id,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      -- partner id computed BEFORE the join: scalar subqueries inside
      -- a join condition force DuckDB into a blockwise NL join over
      -- the token-list frames (measured ~35 min at sf0.1); keyed this
      -- way both joins are plain equi hash joins (~seconds)
      keys AS MATERIALIZED (SELECT doc_id,
          (doc_id + (SELECT n // 2 FROM nn)) % (SELECT n FROM nn)
            AS rid
        FROM documents),
      pairs AS MATERIALIZED (SELECT c.doc_id AS pair_id,
          ${ngramsSql("c.toks", 2)} AS cgs,
          ${ngramsSql("r.toks", 2)} AS rgs
        FROM keys k
        JOIN nt c ON c.doc_id = k.doc_id
        JOIN nt r ON r.doc_id = k.rid),
      cg AS (SELECT pair_id, t.g AS g, COUNT(*) AS cc
        FROM pairs, UNNEST(cgs) AS t(g) GROUP BY pair_id, g),
      rg AS (SELECT pair_id, t.g AS g, COUNT(*) AS cr
        FROM pairs, UNNEST(rgs) AS t(g) GROUP BY pair_id, g),
      ov AS (SELECT pair_id, SUM(LEAST(cc, cr)) AS o
        FROM cg JOIN rg USING (pair_id, g) GROUP BY pair_id),
      tot AS (SELECT pair_id, LEN(cgs) AS tc, LEN(rgs) AS tr FROM pairs)
      SELECT t.pair_id AS pair_id,
        CAST(COALESCE(o.o, 0) AS BIGINT) AS overlap,
        CAST(t.tc AS BIGINT) AS cand_grams,
        CAST(t.tr AS BIGINT) AS ref_grams,
        CAST(CASE WHEN t.tc > 0
          THEN (1000000 * COALESCE(o.o, 0)) // t.tc
          ELSE 0 END AS BIGINT) AS p_ppm,
        CAST(CASE WHEN t.tr > 0
          THEN (1000000 * COALESCE(o.o, 0)) // t.tr
          ELSE 0 END AS BIGINT) AS r_ppm,
        CAST(CASE WHEN t.tc + t.tr > 0
          THEN (2000000 * COALESCE(o.o, 0)) // (t.tc + t.tr)
          ELSE 0 END AS BIGINT) AS f1_ppm
      FROM tot t LEFT JOIN ov o USING (pair_id) ORDER BY pair_id"""))

  /** q135 — per-source χ² token-distribution drift (round 11,
    * [[graft.operators.Profile.tokenDriftChi2]]): the data-mixing
    * monitor — each source's unigram distribution against the corpus
    * over the top-50 vocabulary + OTHER bucket, every cell one
    * integral division of exact integers (squared numerator, so
    * truncate ⇄ floor agree). The oracle replays the vocabulary
    * selection, the zero-cell grid, the other bucket, and the HUGEINT
    * cell algebra.
    */
  private val q135 = Q("q135_token_drift_chi2",
    (s, dir) => {
      graft.operators.Profile.tokenDriftChi2(
          t(s, dir, "documents"), "source", "text", vocabSize = 50)
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"))
    },
    Some(s"""WITH nt AS (SELECT source,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      tok AS (SELECT source, UNNEST(toks) AS t FROM nt),
      gt AS MATERIALIZED (SELECT source, t, COUNT(*) AS o FROM tok
        WHERE LENGTH(t) > 0 GROUP BY source, t),
      ct AS MATERIALIZED (SELECT t, SUM(o) AS c FROM gt GROUP BY t),
      vocab AS MATERIALIZED (SELECT t, CAST(c AS BIGINT) AS c FROM (
        SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn
        FROM ct) WHERE rn <= 50),
      ns AS MATERIALIZED (SELECT source, CAST(SUM(o) AS BIGINT) AS n_s
        FROM gt GROUP BY source),
      tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM ns),
      vsum AS (SELECT CAST(SUM(c) AS BIGINT) AS cs FROM vocab),
      cells AS (
        SELECT g.source, g.n_s, v.c, COALESCE(o.o, 0) AS o
        FROM ns g CROSS JOIN vocab v
          LEFT JOIN gt o ON o.source = g.source AND o.t = v.t
        UNION ALL
        SELECT g.source, g.n_s,
          (SELECT n FROM tot) - (SELECT cs FROM vsum) AS c,
          g.n_s - COALESCE((SELECT SUM(o.o) FROM gt o
            JOIN vocab v ON o.t = v.t WHERE o.source = g.source), 0)
            AS o
        FROM ns g
        WHERE (SELECT n FROM tot) - (SELECT cs FROM vsum) > 0),
      terms AS (SELECT source, n_s,
          (CAST(o AS HUGEINT) * (SELECT n FROM tot)
            - CAST(n_s AS HUGEINT) * c) AS d,
          CAST(n_s AS HUGEINT) * c * (SELECT n FROM tot) AS den
        FROM cells)
      SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
        CAST(SUM((d * d * 1000000) // den) AS BIGINT) AS chi2_q
      FROM terms GROUP BY source ORDER BY source"""))

  /** q136 — dedup-screen quality evaluation (round 11,
    * [[graft.operators.Eval.pairsPrecisionRecall]] over
    * [[graft.operators.Dedup.blockingPairs]]): the ≥3-common-shingle
    * blocking screen measured against the exact Jaccard ≥ 0.2 truth
    * set — precision/recall/F1 of a candidate generator as ONE row of
    * exact ppm integers (at sf0.01: 130 candidates cover all 25 true
    * pairs — recall 1e6, precision ~0.19e6). The oracle replays the
    * shared inverted-index chain for both sides and the full-join
    * fold.
    */
  private val q136 = Q("q136_dedup_screen_eval",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Eval.pairsPrecisionRecall(
        Dedup.blockingPairs(docs, "doc_id", "text", shingleN = 3,
          minCommon = 3),
        Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 3,
          threshold = 0.2),
        "id_a", "id_b")
    },
    Some(s"""WITH nt AS (SELECT doc_id,
        STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM documents),
      sh AS MATERIALIZED (SELECT doc_id,
        UNNEST(${shinglesSql("toks", 3)}) AS sh FROM nt),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS MATERIALIZED (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
          COUNT(*) AS inter
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      ap AS (SELECT id_a, id_b, 1 AS ina FROM inter WHERE inter >= 3),
      ex AS (SELECT id_a, id_b, 1 AS ine FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE (CAST(inter AS DOUBLE)
          / CAST(sa.n + sb.n - inter AS DOUBLE)) >= 0.2),
      m AS (SELECT COALESCE(SUM(ina), 0) AS na,
          COALESCE(SUM(ine), 0) AS ne,
          COALESCE(SUM(ina * ine), 0) AS nh
        FROM (SELECT COALESCE(a.ina, 0) AS ina, COALESCE(e.ine, 0) AS ine
          FROM ap a FULL JOIN ex e USING (id_a, id_b)))
      SELECT CAST(na AS BIGINT) AS n_approx,
        CAST(ne AS BIGINT) AS n_exact, CAST(nh AS BIGINT) AS n_hit,
        CAST(CASE WHEN na > 0 THEN (1000000 * nh) // na ELSE 0 END
          AS BIGINT) AS precision_ppm,
        CAST(CASE WHEN ne > 0 THEN (1000000 * nh) // ne ELSE 0 END
          AS BIGINT) AS recall_ppm,
        CAST(CASE WHEN na + ne > 0 THEN (2000000 * nh) // (na + ne)
          ELSE 0 END AS BIGINT) AS f1_ppm
      FROM m"""))

  /** q137 — quality-signal AUC (round 11,
    * [[graft.operators.Eval.aucPpm]]): does raw document LENGTH rank
    * the Gopher keep decision? Exact Mann–Whitney AUC of n_words vs
    * the rule-cascade label, ties handled by the 2U+T identity, one
    * integral division — the signal-selection measure run before
    * training a [[graft.operators.Classifier]] on any proxy. The
    * oracle reuses the factored Gopher measure/flag mirrors and
    * replays the distinct-score running-sum fold.
    */
  private val q137 = {
    val cfg = graft.functions.QualityRules.Config()
    Q("q137_signal_auc",
      (s, dir) => {
        val ann = graft.functions.QualityRules
          .annotate(t(s, dir, "documents").repartition(graft.Par.n, col("doc_id")),
            "text", cfg)
          .select(col("n_words"), col("keep").cast("long").as("y"))
        graft.operators.Eval.aucPpm(ann, "n_words", "y")
      },
      Some {
        val keepConj = gopherFlagsSql(cfg)
          .map { case (_, e) => s"($e) = 1" }.mkString(" AND ")
        s"""WITH $gopherMeasuresCtesSql,
        lab AS (SELECT n_words AS s, CAST($keepConj AS BIGINT) AS y
          FROM m),
        g AS (SELECT s, SUM(y) AS p, SUM(1 - y) AS n FROM lab
          GROUP BY s),
        w AS (SELECT s, p, n, COALESCE(SUM(n) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
          FROM g),
        tt AS (SELECT SUM(p) AS np, SUM(n) AS nn2,
            SUM(2 * p * nb + p * n) AS num FROM w)
        SELECT CAST(np AS BIGINT) AS n_pos,
          CAST(nn2 AS BIGINT) AS n_neg,
          CAST(CASE WHEN np > 0 AND nn2 > 0
            THEN (1000000 * num) // (2 * np * nn2)
            ELSE 0 END AS BIGINT) AS auc_ppm
        FROM tt"""
      })
  }

  /** q138 — incremental dedup screen SERVED from the persisted band
    * index (round 11, [[graft.operators.DedupIndex]]): the corpus is
    * banded ONCE into a TableStore table, the ingest batch screens
    * against the stored bands with the index's pinned parameters —
    * corpus text never re-tokenized — and survivors verify exactly.
    * Gated against q83's oracle VERBATIM (the q119/q125/q130
    * persisted-twin contract).
    */
  private val q138 = Q("q138_dedup_screen_served",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = math.round(0.8 * Sampling.BucketSpace)
      val bucket = Sampling.hashBucket(col("doc_id"), "ingest")
      val corpus = docs.filter(bucket < cut)
      val batch = docs.filter(bucket >= cut)
      Scratch.withDir("graft_q138_ix") { root =>
        val store = new graft.sources.TableStore(s, root)
        store.append("corpus", corpus.select(col("doc_id"), col("text")))
        graft.operators.DedupIndex.buildFromCorpus(store, "corpus", "lsh",
          "doc_id", "text", shingleN = 3, k = 16, bands = 4)
        val cands = graft.operators.DedupIndex.screen(store, "lsh", batch,
          "doc_id", "text")
        Dedup.verifyJaccard(cands, docs, "doc_id", "text",
          shingleN = 3, threshold = 0.2)
          .select(col("id_a").as("corpus_id"), col("id_b").as("batch_id"),
            col("jaccard"))
          .orderBy(col("corpus_id"), col("batch_id"))
      }(s)
    },
    Some(incrementalDedupOracleSql))

  /** q139 — the ADMISSION decision ([[graft.operators.DedupIndex
    * .admit]], the ingest-batch filter): batch docs surviving BOTH the
    * served-index corpus screen and the greedy within-batch dedup
    * (drop any doc with a smaller-id verified dup). Oracle replays the
    * exact-Jaccard admission over ALL shingle-sharing pairs — cross
    * AND within-batch — so the gate also proves the within-batch LSH
    * screen's full recall at t=0.2 on this fixture (the q83/q18
    * recall argument restricted to the batch side).
    */
  private val q139 = Q("q139_dedup_admission",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = math.round(0.8 * Sampling.BucketSpace)
      val bucket = Sampling.hashBucket(col("doc_id"), "ingest")
      val corpus = docs.filter(bucket < cut)
      val batch = docs.filter(bucket >= cut)
      Scratch.withDir("graft_q139_ix") { root =>
        val store = new graft.sources.TableStore(s, root)
        store.append("corpus", corpus.select(col("doc_id"), col("text")))
        graft.operators.DedupIndex.buildFromCorpus(store, "corpus", "lsh",
          "doc_id", "text", shingleN = 3, k = 16, bands = 4)
        graft.operators.DedupIndex.admit(store, "lsh", "corpus",
            batch.select(col("doc_id"), col("text")), "doc_id", "text",
            threshold = 0.2)
          .select(col("doc_id")).orderBy(col("doc_id"))
      }(s)
    },
    Some(s"""WITH $admissionCtes
        SELECT doc_id FROM sides
        WHERE side = 'batch' AND doc_id NOT IN (SELECT id_b FROM dropped)
        ORDER BY doc_id"""))

  /** The q139 admission CTE chain (corpus/batch split through the
    * `dropped` set), shared VERBATIM with q149's release pipeline.
    */
  private[queries] def admissionCtes: String = {
    val h = SamplingQueries.hashSql("ingest", "doc_id")
    val bucket = SamplingQueries.bucketSql("h")
    val cut = math.round(0.8 * Sampling.BucketSpace)
    s"""b AS (SELECT doc_id, text, $h AS h FROM documents),
        sides AS (SELECT doc_id, text,
          CASE WHEN $bucket < $cut THEN 'corpus' ELSE 'batch' END AS side
          FROM b),
        nt AS (SELECT doc_id, side,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks FROM sides),
        sh AS (SELECT doc_id, side, UNNEST(${shinglesSql("toks", 3)}) AS sh
          FROM nt),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
            COUNT(*) AS inter
          FROM sh x JOIN sh y ON x.sh = y.sh
          WHERE (x.side = 'corpus' AND y.side = 'batch')
             OR (x.side = 'batch' AND y.side = 'batch'
                 AND x.doc_id < y.doc_id)
          GROUP BY x.doc_id, y.doc_id),
        dropped AS (SELECT DISTINCT id_b FROM pairs
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE (CAST(inter AS DOUBLE)
                 / CAST(sa.n + sb.n - inter AS DOUBLE)) >= 0.2)"""
  }

  /** q141 — per-source Zipf rank-frequency fit
    * ([[graft.operators.Profile.zipfFit]], round 11): OLS steepness
    * of ln(freq) on ln(rank) over each source's vocabulary, quantized
    * to exact integers (x = ⌊10⁶·ln(rank)⌋, y = ⌊10⁶·ln(freq)⌋ — ln
    * args are INTEGERS, margins audited in ProfileSpec: ≥ 5.2e-3 at
    * both gate SFs) so every OLS sum is exact and the steepness is
    * ONE integral division whose negated numerator is structurally
    * non-negative (Chebyshev sum inequality) — `div` ⇄ `//` agree.
    * The corpus-health law check: template floods and synthetic spam
    * bend the Zipf line.
    */
  private val q141 = Q("q141_zipf_fit",
    (s, dir) => {
      graft.operators.Profile.zipfFit(
          t(s, dir, "documents"), "source", "text")
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"))
    },
    Some(s"""WITH nt AS (SELECT source AS grp,
          UNNEST(STRING_SPLIT(${normSql("text")}, ' ')) AS t
          FROM documents),
      f AS (SELECT grp, t, COUNT(*) AS c FROM nt WHERE LEN(t) > 0
        GROUP BY grp, t),
      r AS (SELECT grp, t, c, ROW_NUMBER() OVER (PARTITION BY grp
        ORDER BY c DESC, t) AS rk FROM f),
      q AS (SELECT grp, c,
          CAST(FLOOR(1000000 * LN(CAST(rk AS DOUBLE))) AS HUGEINT) AS x,
          CAST(FLOOR(1000000 * LN(CAST(c AS DOUBLE))) AS HUGEINT) AS y
        FROM r),
      s AS (SELECT grp, COUNT(*) AS n_types,
          CAST(SUM(c) AS BIGINT) AS n_tokens,
          SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
        FROM q GROUP BY grp)
      SELECT grp AS source, n_types, n_tokens,
        CASE WHEN n_types >= 2 THEN
          CAST((1000000 * (sx*sy - n_types*sxy))
            // (n_types*sxx - sx*sx) AS BIGINT) END AS neg_slope_ppm
      FROM s ORDER BY source"""))

  /** q142 — Luhn-validated card redaction
    * ([[graft.functions.PiiRules.redactCreditCards]], round 11): a
    * digit-run regex alone over-redacts (most 16-digit runs are ids),
    * so candidates must pass the Luhn mod-10 checksum before
    * anything is cut. Candidates are MAXIMAL digit runs judged whole
    * (the adjacency-leak fix — an id glued to a card cannot hide it);
    * this fixture's runs are all 16 digits, so the oracle replays the
    * whole-run Luhn path, and the oversized-run sub-window path is
    * spec-gated (PiiRulesSpec adjacency cases). The corpus has no
    * organic card numbers, so the query plants per-doc a VALID
    * 16-digit PAN (check digit computed by the same arithmetic,
    * spaced 4-4-4-4) and an INVALID twin (check+5 mod 10 — never
    * equal, never valid); the oracle plants and validates the SAME
    * via exploded digit positions and replays the fold-replace with
    * list_reduce. The Spark side is pure codegen HOFs (sequence →
    * aggregate → replace fold) — no UDF.
    */
  private val q142 = Q("q142_luhn_cc_redaction",
    (s, dir) => {
      val cfg = graft.functions.PiiRules
      val pfx = concat(lit("411111"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit("00000"))
      val chk = cfg.luhnCheckDigit(pfx)
      val ok16 = concat(pfx, chk.cast("string"))
      val bad16 = concat(pfx, ((chk + 5) % 10).cast("string"))
      val planted = t(s, dir, "documents").repartition(graft.Par.n, col("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit(" pay "),
          substring(ok16, 1, 4), lit(" "), substring(ok16, 5, 4),
          lit(" "), substring(ok16, 9, 4), lit(" "),
          substring(ok16, 13, 4), lit(" alt "), bad16, lit(" done"))
          .as("t"))
      planted.select(col("doc_id"),
          size(cfg.creditCardCandidates(col("t"))).cast("long")
            .as("n_cands"),
          size(cfg.validCreditCards(col("t"))).cast("long")
            .as("n_valid"),
          cfg.redactCreditCards(col("t")).as("redacted"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH d0 AS (SELECT doc_id, text,
        '411111' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          || '00000' AS pfx
        FROM documents),
      ps AS (SELECT doc_id, i, CAST(SUBSTR(pfx, 16 - i, 1) AS INT) AS dg
        FROM d0, generate_series(1, 15) AS t(i)),
      sums AS (SELECT doc_id,
          SUM(CASE WHEN i % 2 = 1 THEN CASE WHEN 2*dg > 9
            THEN 2*dg - 9 ELSE 2*dg END ELSE dg END) AS s
        FROM ps GROUP BY doc_id),
      pl AS (SELECT d0.doc_id,
          pfx || CAST((10 - s % 10) % 10 AS VARCHAR) AS ok16,
          pfx || CAST((10 - s % 10 + 5) % 10 AS VARCHAR) AS bad16,
          text FROM d0 JOIN sums USING(doc_id)),
      planted AS (SELECT doc_id,
          text || ' pay ' || SUBSTR(ok16,1,4) || ' ' || SUBSTR(ok16,5,4)
            || ' ' || SUBSTR(ok16,9,4) || ' ' || SUBSTR(ok16,13,4)
            || ' alt ' || bad16 || ' done' AS t
        FROM pl),
      cl0 AS (SELECT doc_id, t,
          LIST_FILTER(REGEXP_EXTRACT_ALL(t,
            '${graft.functions.PiiRules.ccRunPattern}'),
            x -> LEN(REGEXP_REPLACE(x, '[ -]', '', 'g')) >= 13)
            AS l FROM planted),
      cand AS (SELECT doc_id, t,
          UNNEST(list_zip(l, generate_series(1, LEN(l)))) AS z
        FROM cl0),
      cn AS (SELECT doc_id, t, z[2] AS ci, z[1] AS c,
          REGEXP_REPLACE(z[1], '[ -]', '', 'g') AS nm FROM cand),
      cl AS (SELECT doc_id, t, ci, c, nm, i,
          CAST(SUBSTR(nm, LEN(nm) - i + 1, 1) AS INT) AS dg
        FROM cn, generate_series(1, 19) AS g(i) WHERE i <= LEN(nm)),
      lv AS (SELECT doc_id, t, ci, c,
          (MAX(LEN(nm)) BETWEEN 13 AND 19 AND
           SUM(CASE WHEN i % 2 = 0 THEN CASE WHEN 2*dg > 9
            THEN 2*dg - 9 ELSE 2*dg END ELSE dg END) % 10 = 0) AS ok
        FROM cl GROUP BY doc_id, t, ci, c),
      agg AS (SELECT doc_id, ANY_VALUE(t) AS t, COUNT(*) AS n_cands,
          SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS n_valid,
          LIST(c ORDER BY ci) FILTER (WHERE ok) AS valids
        FROM lv GROUP BY doc_id)
      SELECT doc_id, CAST(n_cands AS BIGINT) AS n_cands,
        CAST(n_valid AS BIGINT) AS n_valid,
        LIST_REDUCE(LIST_PREPEND(t, COALESCE(valids, [])),
          (acc, x) -> REPLACE(acc, x, '[CC]')) AS redacted
      FROM agg ORDER BY doc_id"""))

  /** q145 — per-source Heaps' law fit
    * ([[graft.operators.Profile.heapsFit]], round 11; q141's
    * companion law): OLS slope β of ln(cumulative vocabulary) on
    * ln(cumulative tokens) along each source's doc_id-ordered
    * trajectory, exact-integer quantized (margins ≥ 1.0e-5 at both
    * gate SFs, audited in ProfileSpec); the numerator is directly
    * non-negative (both series non-decreasing), so `div` ⇄ `//`
    * agree. A collapsing β = template flood; β ≈ 1 = id-spam.
    */
  private val q145 = Q("q145_heaps_fit",
    (s, dir) => {
      graft.operators.Profile.heapsFit(
          t(s, dir, "documents"), "source", "doc_id", "text")
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"))
    },
    Some(s"""WITH nt AS (SELECT source AS grp, doc_id,
          UNNEST(STRING_SPLIT(${normSql("text")}, ' ')) AS t
          FROM documents),
      tk AS (SELECT grp, doc_id, t FROM nt WHERE LEN(t) > 0),
      pd AS (SELECT grp, doc_id, COUNT(*) AS n_tok FROM tk
        GROUP BY grp, doc_id),
      base AS (SELECT source AS grp, doc_id FROM documents),
      pdf AS (SELECT b.grp, b.doc_id, COALESCE(pd.n_tok, 0) AS n_tok
        FROM base b LEFT JOIN pd
          ON pd.grp = b.grp AND pd.doc_id = b.doc_id),
      fo AS (SELECT grp, t, MIN(doc_id) AS fd FROM tk GROUP BY grp, t),
      nn AS (SELECT grp, fd AS doc_id, COUNT(*) AS n_new FROM fo
        GROUP BY grp, fd),
      cum AS (SELECT pdf.grp, pdf.doc_id,
          SUM(pdf.n_tok) OVER (PARTITION BY pdf.grp
            ORDER BY pdf.doc_id) AS N,
          SUM(COALESCE(nn.n_new, 0)) OVER (PARTITION BY pdf.grp
            ORDER BY pdf.doc_id) AS V
        FROM pdf LEFT JOIN nn
          ON nn.grp = pdf.grp AND nn.doc_id = pdf.doc_id),
      q AS (SELECT grp,
          CAST(FLOOR(1000000 * LN(CAST(N AS DOUBLE))) AS HUGEINT) AS x,
          CAST(FLOOR(1000000 * LN(CAST(V AS DOUBLE))) AS HUGEINT) AS y
        FROM cum WHERE N > 0),
      st AS (SELECT grp, COUNT(*) AS n_docs, SUM(x) AS sx,
          SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
        FROM q GROUP BY grp)
      SELECT grp AS source, n_docs,
        CASE WHEN n_docs >= 2 AND (n_docs*sxx - sx*sx) > 0 THEN
          CAST((1000000 * (n_docs*sxy - sx*sy))
            // (n_docs*sxx - sx*sx) AS BIGINT) END AS beta_ppm
      FROM st ORDER BY source"""))

  /** q149 — the RELEASE PIPELINE capstone (round 11): the full
    * persisted-artifact ingest loop end to end in one gate — build
    * the corpus table and band index, ADMIT the ingest batch through
    * the served screen ([[graft.operators.DedupIndex.admit]], q139's
    * decision), merge survivors, refresh the index from the change
    * feed, [[graft.operators.Release.record]] the (corpus, index)
    * generation pins, and report per-source doc/token counts of the
    * released corpus READ THROUGH THE PIN
    * ([[graft.operators.Release.readPinned]]) — so the gate certifies
    * admission, merge, refresh, and generation time travel together.
    * Oracle = q139's admission CTE chain VERBATIM + the released
    * per-source rollup.
    */
  private val q149 = Q("q149_release_pipeline",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = math.round(0.8 * Sampling.BucketSpace)
      val bucket = Sampling.hashBucket(col("doc_id"), "ingest")
      val sel = Seq(col("doc_id"), col("text"), col("source"))
      val corpus = docs.filter(bucket < cut).select(sel: _*)
      val batch = docs.filter(bucket >= cut).select(sel: _*)
      Scratch.withDir("graft_q149_rel") { root =>
      // retention on: the index refresh reads the corpus change feed
      // and the release pins replay via time travel
      val store = new graft.sources.TableStore(s, root,
        retainGenerations = 10)
      store.append("corpus", corpus)
      graft.operators.DedupIndex.buildFromCorpus(store, "corpus", "lsh",
        "doc_id", "text", shingleN = 3, k = 16, bands = 4)
      val admitted = graft.operators.DedupIndex.admit(store, "lsh",
        "corpus", batch, "doc_id", "text", threshold = 0.2)
      store.merge("corpus", admitted, "doc_id",
        graft.sources.TableStore.MergeUpdate(Seq("text")))
      graft.operators.DedupIndex.refreshFromCorpus(store, "corpus",
        "lsh", "doc_id", "text")
      graft.operators.Release.record(store, "releases", "r1",
        Seq("corpus", "lsh"))
      // r13: the release's corpus pin also gets a NAMED TAG, and the
      // released rollup is read THROUGH the tag — so tag write +
      // readTag serve real bytes under this gate (same generation as
      // the pin, so the oracle is untouched); the cross-check makes a
      // tag/pin drift fail loudly here rather than hash-diff later
      val pinned = graft.operators.Release.pins(store, "releases",
        "r1")("corpus")
      store.tag("corpus", "release-r1", Some(pinned))
      require(store.tagGeneration("corpus", "release-r1")
        .contains(pinned), "release tag drifted from the pin")
      store.readTag("corpus", "release-r1")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.TextFunctions.tokenCount(col("text")))
            .cast("long").as("n_tokens"))
        .orderBy(col("source"))
      }(s)
    },
    Some(s"""WITH $admissionCtes,
        released AS (SELECT doc_id FROM sides WHERE side = 'corpus'
          UNION ALL SELECT doc_id FROM sides WHERE side = 'batch'
            AND doc_id NOT IN (SELECT id_b FROM dropped)),
        tokc AS (SELECT doc_id, source,
            ${lenTokSql("toks", "nrm")} AS n
          FROM (SELECT doc_id, source,
            STRING_SPLIT(${normSql("text")}, ' ') AS toks,
            ${normSql("text")} AS nrm FROM documents))
      SELECT t.source AS source, COUNT(*) AS n_docs,
        CAST(SUM(t.n) AS BIGINT) AS n_tokens
      FROM released r JOIN tokc t USING (doc_id)
      GROUP BY t.source ORDER BY source"""))

  /** q151 — winnowing copy detection
    * ([[graft.operators.Dedup.winnowPairs]], Schleimer–Wilkerson–Aiken
    * 2003, round 11): 4-gram shingle hashes, rightmost-min selection
    * over windows of 5, boilerplate fingerprints (df > 8) dropped,
    * pairs sharing ≥ 3 fingerprints. The oracle replays the whole
    * selection — md5 shingle hashes, the packed (hash, reversed-pos)
    * key, the window min, the df prune, the pair count — from scratch
    * in SQL, so a drifted hash, window frame, tie-break, or prune all
    * fail the gate. Everything is exact longs (the packed key tops
    * out at 2^60).
    */
  private val q151 = Q("q151_winnow_pairs",
    (s, dir) => {
      graft.operators.Dedup.winnowPairs(t(s, dir, "documents"),
          "doc_id", "text", k = 4, w = 5, minShared = 3L, maxDf = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH $winnowFpCtes,
        dfreq AS (SELECT h, COUNT(*) AS d FROM fp GROUP BY h),
        keep AS (SELECT h FROM dfreq WHERE d BETWEEN 2 AND 8),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            COUNT(*) AS n_shared
          FROM fp a JOIN keep USING (h) JOIN fp b USING (h)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
      FROM pairs WHERE n_shared >= 3 ORDER BY id_a, id_b"""))

  /** The q151 winnowing-selection CTE chain (tokens → shingle hashes →
    * packed-key window min → distinct (doc_id, h) fingerprints),
    * shared VERBATIM with q156's persisted-index screen.
    */
  private def winnowFpCtes: String = {
    val h = SamplingQueries.hashSql("winnow", "s")
    val b9 = SamplingQueries.bucketSql("h", 9)
    val P = 1L << 24
    s"""toks AS (SELECT doc_id, STRING_SPLIT(${normSql("text")},
          ' ') AS t
        FROM documents WHERE LENGTH(${normSql("text")}) > 0),
      pos AS (SELECT doc_id, t,
          UNNEST(generate_series(1, GREATEST(1, LEN(t) - 3))) AS i
        FROM toks),
      sh AS (SELECT doc_id, i,
          ARRAY_TO_STRING(t[i : i + 3], ' ') AS s
        FROM pos),
      hh AS (SELECT doc_id, i, CAST($b9 AS BIGINT) AS hv
        FROM (SELECT doc_id, i, $h AS h FROM sh)),
      keyed AS (SELECT doc_id, i,
          hv * $P + ($P - 1 - i) AS key FROM hh),
      sel AS (SELECT DISTINCT doc_id,
          CAST(MIN(key) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS skey
        FROM keyed),
      fp AS (SELECT DISTINCT doc_id, skey // $P AS h FROM sel)"""
  }

  /** q152 — exact two-sample Kolmogorov–Smirnov drift
    * ([[graft.operators.Profile.ksDrift]], round 11): each source's
    * n_chars distribution against the rest of the corpus, the
    * cumulative-gap companion to q135's χ². The statistic is the
    * exact cross-multiplied integer form (cum·n products in
    * decimal(38,0) ⇄ HUGEINT, one integral `div` ⇄ `//` at the end),
    * so both engines produce the identical scaled long.
    */
  private val q152 = Q("q152_ks_drift",
    (s, dir) => graft.operators.Profile
      .ksDrift(t(s, dir, "documents"), "source", "n_chars")
      .orderBy(col("source")),
    Some("""WITH c AS (SELECT source, n_chars AS v, COUNT(*) AS c
          FROM documents GROUP BY 1, 2),
        tot AS (SELECT source, SUM(c) AS n FROM c GROUP BY 1),
        n AS (SELECT SUM(c) AS nn FROM c),
        grid AS (SELECT s.source, vals.v
          FROM (SELECT DISTINCT source FROM c) s
          CROSS JOIN (SELECT DISTINCT v FROM c) vals),
        gv AS (SELECT grid.source, grid.v, COALESCE(c.c, 0) AS cg,
            (SELECT SUM(c2.c) FROM c c2 WHERE c2.v = grid.v) AS call
          FROM grid LEFT JOIN c
            ON c.source = grid.source AND c.v = grid.v),
        cum AS (SELECT source, v,
            SUM(cg) OVER (PARTITION BY source ORDER BY v) AS cumg,
            SUM(call) OVER (PARTITION BY source ORDER BY v) AS cumall
          FROM gv),
        d AS (SELECT cum.source,
            MAX(ABS(CAST(cumg AS HUGEINT) * (n.nn - tot.n)
              - CAST(cumall - cumg AS HUGEINT) * tot.n)) AS dnum,
            MAX(tot.n) AS na, MAX(n.nn - tot.n) AS nb
          FROM cum JOIN tot USING (source) CROSS JOIN n
          GROUP BY cum.source)
      SELECT source, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        CAST(CASE WHEN nb > 0
          THEN (1000000 * dnum) // (na * nb) END AS BIGINT) AS d_scaled
      FROM d ORDER BY source"""))

  /** q156 — served passage screen over the PERSISTED winnowing index
    * ([[graft.operators.WinnowIndex]], round 11): corpus/batch split
    * by the q139 ingest-bucket convention, the corpus fingerprinted
    * into a TableStore index (fp range-clustered + bloom), the batch
    * screened against the STORED fingerprints — (corpus doc, batch
    * doc, shared-fingerprint count) at n_shared ≥ 3 with the df ≤ 8
    * boilerplate cap. Oracle = q151's winnowing CTE chain VERBATIM
    * restricted to corpus×batch sides, so the gate proves the
    * persisted serve path equals inline fingerprinting — the
    * train-once/screen-many contract for substring-level copy
    * detection.
    */
  private val q156 = Q("q156_winnow_index_screen",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = math.round(0.8 * Sampling.BucketSpace)
      val bucket = Sampling.hashBucket(col("doc_id"), "ingest")
      val sel = Seq(col("doc_id"), col("text"))
      val corpus = docs.filter(bucket < cut).select(sel: _*)
      val batch = docs.filter(bucket >= cut).select(sel: _*)
      Scratch.withDir("graft_q156_wix") { root =>
        val store = new graft.sources.TableStore(s, root)
        store.append("corpus", corpus)
        graft.operators.WinnowIndex.buildFromCorpus(store, "corpus",
          "wix", "doc_id", "text", k = 4, w = 5)
        graft.operators.WinnowIndex.screen(store, "wix", batch,
            "doc_id", "text", minShared = 3L, maxDf = 8)
          .orderBy(col("id_a"), col("id_b"))
      }(s)
    },
    Some {
      val h = SamplingQueries.hashSql("ingest", "doc_id")
      val bucket = SamplingQueries.bucketSql("hs")
      val cut = math.round(0.8 * Sampling.BucketSpace)
      s"""WITH $winnowFpCtes,
        sides AS (SELECT doc_id,
            CASE WHEN $bucket < $cut THEN 'corpus' ELSE 'batch' END
              AS side
          FROM (SELECT doc_id, $h AS hs FROM documents)),
        cfp AS (SELECT f.doc_id, f.h FROM fp f
          JOIN sides s ON s.doc_id = f.doc_id AND s.side = 'corpus'),
        bfp AS (SELECT f.doc_id, f.h FROM fp f
          JOIN sides s ON s.doc_id = f.doc_id AND s.side = 'batch'),
        dfreq AS (SELECT h, COUNT(*) AS d FROM cfp GROUP BY h),
        keep AS (SELECT h FROM dfreq WHERE d <= 8),
        pairs AS (SELECT c.doc_id AS id_a, b.doc_id AS id_b,
            COUNT(*) AS n_shared
          FROM cfp c JOIN keep USING (h) JOIN bfp b USING (h)
          GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
      FROM pairs WHERE n_shared >= 3 ORDER BY id_a, id_b"""
    })

  /** q157 — robust median/MAD outlier accounting
    * ([[graft.operators.Profile.madOutliers]], round 11): per-source
    * n_chars median, median absolute deviation, and |v−med| > 3·MAD
    * outlier counts — rank-based lower medians (actual data values,
    * never interpolated), doc_id tie-break, all exact longs on both
    * engines.
    */
  private val q157 = Q("q157_mad_outliers",
    (s, dir) => graft.operators.Profile
      .madOutliers(t(s, dir, "documents"), "source", "n_chars",
        "doc_id")
      .orderBy(col("source")),
    Some("""WITH r AS (SELECT source, n_chars AS v, doc_id,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY n_chars, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents),
      med AS (SELECT source, MAX(v) AS med FROM r
        WHERE rn = (n + 1) // 2 GROUP BY source),
      dev AS (SELECT r.source, r.v, r.doc_id,
          ABS(r.v - med.med) AS d, r.n
        FROM r JOIN med USING (source)),
      r2 AS (SELECT source, v, d, n,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY d, doc_id)
            AS rn2
        FROM dev),
      mad AS (SELECT source, MAX(d) AS mad FROM r2
        WHERE rn2 = (n + 1) // 2 GROUP BY source)
      SELECT d.source, CAST(MAX(d.n) AS BIGINT) AS n_rows,
        CAST(MAX(med.med) AS BIGINT) AS med,
        CAST(MAX(mad.mad) AS BIGINT) AS mad,
        CAST(SUM(CASE WHEN d.d > 3 * mad.mad THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers
      FROM dev d JOIN med USING (source) JOIN mad USING (source)
      GROUP BY d.source ORDER BY d.source"""))

  /** q166 — exact Gini vocabulary concentration
    * ([[graft.operators.Profile.giniConcentration]], round 11): the
    * inequality companion to q141's Zipf and q145's Heaps fits — all
    * exact integers, Chebyshev-non-negative numerator so `div` ⇄ `//`
    * agree, sums in decimal(38,0) ⇄ HUGEINT.
    */
  private val q166 = Q("q166_gini_concentration",
    (s, dir) => graft.operators.Profile
      .giniConcentration(t(s, dir, "documents"), "source", "text")
      .orderBy(col("source")),
    Some(s"""WITH toks AS (SELECT source,
          UNNEST(STRING_SPLIT(${normSql("text")}, ' ')) AS t
        FROM documents WHERE LENGTH(${normSql("text")}) > 0),
      c AS (SELECT source, t, COUNT(*) AS c FROM toks
        WHERE LENGTH(t) > 0 GROUP BY 1, 2),
      r AS (SELECT source, c,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY c, t) AS rk
        FROM c),
      s AS (SELECT source, COUNT(*) AS n,
          SUM(CAST(c AS HUGEINT)) AS s0,
          SUM(CAST(rk AS HUGEINT) * c) AS s1
        FROM r GROUP BY source)
      SELECT source, CAST(n AS BIGINT) AS n_types,
        CAST(s0 AS BIGINT) AS n_tokens,
        CAST((1000000 * (2 * s1 - (n + 1) * s0)) // (n * s0)
          AS BIGINT) AS gini_scaled
      FROM s ORDER BY source"""))

  /** q172 — per-document TF-IDF keywords
    * ([[graft.operators.Keywords.tfidfTopK]], round 12): top-5 terms
    * per document under the corpus tokenization, quantized-ln idf
    * (margin audited ≥ 3.5e-3 at both SFs — see operator scaladoc),
    * exact long scores.
    */
  private val q172 = Q("q172_tfidf_keywords",
    (s, dir) =>
      graft.operators.Keywords.tfidfTopK(t(s, dir, "documents"),
          "doc_id", "text", k = 5)
        .orderBy(col("doc_id"), col("score_micro").desc, col("term")),
    Some(s"""WITH toks AS (SELECT doc_id,
          UNNEST(STRING_SPLIT(${normSql("text")}, ' ')) AS t
        FROM documents),
      tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks
        WHERE t <> '' GROUP BY 1, 2),
      d AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
      n AS (SELECT COUNT(*) AS n FROM documents),
      idf AS (SELECT t, CAST(FLOOR(1000000 * LN(CAST(n AS DOUBLE)
            / df)) AS BIGINT) AS idf_micro
        FROM d, n),
      sc AS (SELECT tf.doc_id, tf.t AS term, tf.tf,
          tf.tf * idf.idf_micro AS score_micro
        FROM tf JOIN idf ON tf.t = idf.t)
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        CAST(score_micro AS BIGINT) AS score_micro
      FROM sc
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY score_micro DESC, term) <= 5
      ORDER BY doc_id, score_micro DESC, term"""))

  /** q173 — RAKE keyphrases
    * ([[graft.operators.Keywords.rakeTopK]], round 12): top-3
    * stopword-delimited phrases per document, exact scaled
    * deg/freq word scores — all integer arithmetic, no ln.
    */
  private val q173 = Q("q173_rake_keyphrases",
    (s, dir) =>
      graft.operators.Keywords.rakeTopK(t(s, dir, "documents"),
          "doc_id", "text", k = 3, maxWords = 6)
        .orderBy(col("doc_id"), col("score_micro").desc,
          col("phrase")),
    Some {
      val stops = graft.operators.Keywords.DefaultStopwords
        .map(s => s"'$s'").mkString("(", ",", ")")
      s"""WITH sp AS (SELECT doc_id,
          STRING_SPLIT(${normSql("text")}, ' ') AS l
        FROM documents WHERE ${normSql("text")} <> ''),
      toks AS (SELECT doc_id, UNNEST(l) AS w,
          UNNEST(RANGE(1, LEN(l) + 1)) AS i FROM sp),
      g AS (SELECT doc_id, w, i,
          SUM(CASE WHEN w IN $stops THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY i) AS grp,
          (w IN $stops) AS stop FROM toks),
      ph AS (SELECT doc_id, grp,
          STRING_AGG(w, ' ' ORDER BY i) AS phrase,
          COUNT(*) AS len FROM g WHERE NOT stop
        GROUP BY doc_id, grp
        HAVING COUNT(*) <= 6),
      pw AS (SELECT g.doc_id, g.grp, g.w, ph.len FROM g JOIN ph
          ON g.doc_id = ph.doc_id AND g.grp = ph.grp
        WHERE NOT g.stop),
      ws AS (SELECT doc_id, w, COUNT(*) AS freq, SUM(len) AS deg
        FROM pw GROUP BY doc_id, w),
      psc AS (SELECT pw.doc_id, pw.grp,
          SUM((1000000 * ws.deg) // ws.freq) AS s
        FROM pw JOIN ws ON pw.doc_id = ws.doc_id AND pw.w = ws.w
        GROUP BY pw.doc_id, pw.grp),
      uniq AS (SELECT ph.doc_id, ph.phrase,
          CAST(MAX(psc.s) AS BIGINT) AS score_micro
        FROM ph JOIN psc ON ph.doc_id = psc.doc_id
          AND ph.grp = psc.grp
        GROUP BY ph.doc_id, ph.phrase)
      SELECT doc_id, phrase, score_micro FROM uniq
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY score_micro DESC, phrase) <= 3
      ORDER BY doc_id, score_micro DESC, phrase"""
    })

  /** q176 — classifier calibration bins + Brier accounting
    * ([[graft.operators.Eval.calibrationBins]], round 12): the q122
    * model's reliability diagram — 10 equal-width probability bins,
    * exact ppm mean-predicted vs observed-positive rates and per-bin
    * Brier terms; the oracle replays training via the SHARED q122
    * CTE builder then re-derives every bin row.
    */
  private val q176 = {
    val cfg = graft.operators.Classifier.Config(dim = 256, iters = 6)
    val qcfg = graft.functions.QualityRules.Config()
    Q("q176_calibration_bins",
      (s, dir) => {
        val scored = graft.operators.Classifier.trainAndScore(
          t(s, dir, "documents"), "doc_id", "text",
          graft.functions.QualityRules.keep(col("text"), qcfg), cfg)
        graft.operators.Eval.calibrationBins(scored, "p", "y",
            scale = cfg.scale, bins = 10)
          .orderBy(col("bin"))
      },
      Some {
        val S = cfg.scale
        s"""${classifierScoresCtesSql(cfg, qcfg)},
        cal AS (SELECT LEAST(9, (10 * p) // $S) AS bin, p, y
          FROM scores)
        SELECT CAST(bin AS BIGINT) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) AS BIGINT) AS n_pos,
          CAST((1000000 * SUM(p)) // (COUNT(*) * $S) AS BIGINT)
            AS mean_p_ppm,
          CAST((1000000 * SUM(y)) // COUNT(*) AS BIGINT)
            AS pos_rate_ppm,
          CAST((1000000 * SUM((p - y * $S) * (p - y * $S)))
            // (COUNT(*) * $S * $S) AS BIGINT) AS brier_ppm
        FROM cal GROUP BY bin ORDER BY bin"""
      })
  }

  /** q179 — classifier confusion matrix + F1 operating point
    * ([[graft.operators.Eval.confusionPpm]], round 12): the q122
    * model's tp/fp/fn/tn cells and exact ppm precision/recall/F1
    * (single-division F1 identity) — with q137's AUC and q176's
    * calibration this completes the scorer-evaluation kit.
    */
  private val q179 = {
    val cfg = graft.operators.Classifier.Config(dim = 256, iters = 6)
    val qcfg = graft.functions.QualityRules.Config()
    Q("q179_confusion_f1",
      (s, dir) => {
        val scored = graft.operators.Classifier.trainAndScore(
          t(s, dir, "documents"), "doc_id", "text",
          graft.functions.QualityRules.keep(col("text"), qcfg), cfg)
        graft.operators.Eval.confusionPpm(scored, "pred", "y")
      },
      Some(s"""${classifierScoresCtesSql(cfg, qcfg)}
        SELECT CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
          CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
          CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
          CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
          CAST(CASE WHEN SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) > 0
            THEN (1000000 * SUM(CASE WHEN pred = 1 AND y = 1 THEN 1
              ELSE 0 END)) // SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END)
            ELSE 0 END AS BIGINT) AS precision_ppm,
          CAST(CASE WHEN SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) > 0
            THEN (1000000 * SUM(CASE WHEN pred = 1 AND y = 1 THEN 1
              ELSE 0 END)) // SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END)
            ELSE 0 END AS BIGINT) AS recall_ppm,
          CAST(CASE WHEN SUM(CASE WHEN pred = 1 OR y = 1 THEN
              CASE WHEN pred = 1 AND y = 1 THEN 2 ELSE 1 END
              ELSE 0 END) > 0
            THEN (2000000 * SUM(CASE WHEN pred = 1 AND y = 1 THEN 1
              ELSE 0 END)) // SUM(CASE WHEN pred = 1 OR y = 1 THEN
              CASE WHEN pred = 1 AND y = 1 THEN 2 ELSE 1 END ELSE 0 END)
            ELSE 0 END AS BIGINT) AS f1_ppm
        FROM scores"""))
  }

  /** q193 — language-ID confusion matrix
    * ([[graft.operators.Eval.confusionMatrix]], round 12): the
    * n-gram langId heuristic scored against the labeled `lang`
    * column, cell counts + exact ppm row shares — the multiclass
    * sibling of q179's binary cells, and the quality audit every
    * langID screen needs before it gates a corpus.
    */
  private val q193 = Q("q193_langid_confusion",
    (s, dir) => {
      import graft.functions.TextFunctions
      val scored = t(s, dir, "documents")
        .select(col("lang"),
          TextFunctions.langId(col("text")).as("pred"))
      graft.operators.Eval.confusionMatrix(scored, "lang", "pred")
        .orderBy(col("actual"), col("predicted"))
    },
    Some(s"""WITH nt AS (SELECT lang,
          STRING_SPLIT(${normSql("text")}, ' ') AS toks
        FROM documents),
      p AS (SELECT lang AS actual, ${langIdSql("toks")} AS predicted
        FROM nt),
      c AS (SELECT actual, predicted, COUNT(*) AS n FROM p
        WHERE actual IS NOT NULL AND predicted IS NOT NULL
        GROUP BY 1, 2),
      tot AS (SELECT actual, SUM(n) AS t FROM c GROUP BY actual)
      SELECT c.actual, c.predicted, CAST(c.n AS BIGINT) AS n,
        CAST((1000000 * c.n) // tot.t AS BIGINT) AS row_share_ppm
      FROM c JOIN tot USING (actual)
      ORDER BY actual, predicted"""))

  /** q211 — per-language word-complexity profile
    * ([[graft.operators.Profile.wordComplexity]], round 12): the
    * sentence-free readability core — mean word length, vowel-group
    * (syllable-proxy) density, LIX long-word share — as exact
    * milli/ppm integers per language.
    */
  private val q211 = Q("q211_word_complexity",
    (s, dir) =>
      graft.operators.Profile.wordComplexity(
          t(s, dir, "documents"), "lang", "text")
        .withColumnRenamed("grp", "lang")
        .orderBy(col("lang")),
    Some("""WITH d AS (SELECT lang,
          regexp_extract_all(lower(text), '[a-z]+') AS w,
          length(regexp_replace(lower(text), '[^a-z]', '',
            'g'))::HUGEINT AS c,
          len(regexp_extract_all(lower(text),
            '[aeiouy]+'))::HUGEINT AS y
        FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
      per AS (SELECT lang, len(w)::HUGEINT AS wn, c, y,
          len(list_filter(w, t -> length(t) >= 6))::HUGEINT AS lw
        FROM d)
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(wn) AS BIGINT) AS words,
        CAST((1000 * SUM(c)) // SUM(wn) AS BIGINT) AS wordlen_milli,
        CAST((1000 * SUM(y)) // SUM(wn) AS BIGINT) AS vgroups_milli,
        CAST((1000000 * SUM(lw)) // SUM(wn) AS BIGINT)
          AS longword_ppm
      FROM per GROUP BY lang HAVING SUM(wn) > 0 ORDER BY lang"""))

  /** q219 — exact-duplicate cluster-size histogram
    * ([[graft.operators.Dedup.clusterSizeHistogram]], round 12):
    * q16's fingerprint clusters rolled up by SIZE — fat tail =
    * template feed, many 2-clusters = organic near-misses.
    */
  private val q219 = Q("q219_dup_cluster_hist",
    (s, dir) =>
      graft.operators.Dedup.clusterSizeHistogram(
          t(s, dir, "documents"), "text")
        .orderBy(col("cluster_size")),
    Some(s"""WITH fp AS (SELECT MD5(${normSql("text")}) AS f,
          COUNT(*) AS sz FROM documents GROUP BY 1)
      SELECT CAST(sz AS BIGINT) AS cluster_size,
        COUNT(*) AS n_clusters,
        CAST(sz * COUNT(*) AS BIGINT) AS n_docs
      FROM fp GROUP BY sz ORDER BY sz"""))

  val all: Seq[Q] = Seq(q15, q16, q17, q18, q19, q42, q47, q51, q55, q59,
    q60, q61, q65, q66, q75, q83, q84, q85, q88, q89, q95, q96, q99,
    q107, q108, q110, q115, q116, q118, q120, q121, q122, q123, q125,
    q130, q131, q132, q135, q136, q137, q138, q139, q141, q142, q145,
    q149, q151, q152, q156, q157, q166, q172, q173, q176, q179, q193,
    q211, q219)
}
