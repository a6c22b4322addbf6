package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (BASELINE.json north star): normalization, tokenization, quality
  * scoring, language-ID heuristic, fingerprinting, shingling. All are
  * compositions of codegen'd built-ins (regexp/split/transform/aggregate)
  * — no UDFs — so they vectorize and survive 100 TB scans unchanged.
  *
  * The reference's equivalents are row-wise pandas `.apply` lambdas
  * (SURVEY.md §2.7 F9/F15/F25); here each is a single Column expression.
  */
object TextFunctions {

  /** Lowercase, strip non-alphanumerics to spaces, collapse whitespace. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", " "),
      "\\s+", " "))

  /** Driver-side (plain String) twin of [[normalizeText]] — for
    * normalizing SMALL fixed inputs (query strings, config literals)
    * with the exact corpus convention before broadcasting them.
    */
  def normalizeString(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ")
      .replaceAll("\\s+", " ").trim

  /** Whitespace token array of normalized text (native kernel, bit-equal
    * to [[tokensHof]]).
    */
  def tokens(c: Column): Column = call_function("graft_norm_tokens", c)

  /** Composed-builtin form the native kernel is validated against. */
  def tokensHof(c: Column): Column = split(normalizeText(c), " ")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column =
    tokenCountOf(tokens(c), normalizeText(c))

  /** [[tokenCount]] over pre-computed (toks, nrm) columns. The `Of`
    * forms exist because higher-order functions block whole-stage
    * codegen (and with it common-subexpression elimination): a
    * projection computing several text measures re-tokenizes the text
    * once PER MEASURE unless tokens/nrm are materialized in their own
    * projection and referenced as columns — see q15/q42's two-select
    * shape.
    */
  def tokenCountOf(toks: Column, nrm: Column): Column =
    when(length(nrm) === 0, lit(0L)).otherwise(size(toks).cast("long"))

  /** BPE-ish subword count: word/number/punct runs, the common
    * tokenizer pre-split regex.
    */
  def subwordCount(c: Column): Column =
    size(filter(split(c, "(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])"),
      t => length(trim(t)) > 0)).cast("long")

  /** Exact-dup fingerprint: md5 of normalized text (stable across
    * engines; the reference has no dedup — north-star operator).
    */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** 64-bit polynomial rolling hash of normalized text (doc
    * fingerprinting north-star op). Base-31 Horner fold over characters,
    * wrapping long arithmetic.
    */
  def rollingHash(c: Column): Column =
    call_function("graft_rolling_hash", normalizeText(c))
  // (no composed twin: ANSI mode errors on the wrapping long multiply a
  //  Horner fold needs — NativeExprsSpec pins the kernel to a driver-side
  //  reference instead, and q51's oracle replays it in HUGEINT mod 2^64)

  /** Word n-gram shingles (for MinHash / Jaccard dedup) — native kernel,
    * bit-equal to [[shinglesHof]].
    */
  def shingles(c: Column, n: Int): Column =
    call_function("graft_shingles", tokens(c), lit(n))

  /** Composed-builtin form the native kernel is validated against. */
  def shinglesHof(c: Column, n: Int): Column = {
    val ts = tokensHof(c)
    filter(
      transform(sequence(lit(0), greatest(size(ts) - n, lit(0))),
        i => array_join(slice(ts, i + 1, lit(n)), " ")),
      s => length(s) > 0)
  }

  // Stopword lists for the language-ID heuristic (distinctive function
  // words per language; ASCII-only on purpose — the heuristic must also
  // fire on transliterated/stripped text).
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "that", "for"),
    "es" -> Seq("el", "la", "los", "las", "es", "que", "con", "para"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "nicht", "ein"),
    "fr" -> Seq("le", "les", "des", "est", "que", "avec", "pour", "dans"),
    "zh" -> Seq("de", "shi", "zai", "le", "wo", "ni", "ta", "men"))

  /** Count of marker-word hits for one language. Markers are distinct,
    * so one membership pass equals the per-marker count sum.
    */
  def markerHits(c: Column, lang: String): Column =
    markerHitsOf(tokens(c), lang)

  /** [[markerHits]] over a pre-computed tokens column (see
    * [[tokenCountOf]] for why the hoisted form exists). Native kernel —
    * the composed filter-HOF twin ([[markerHitsOfHof]]) kept every
    * text-quality projection out of WholeStageCodegen.
    */
  def markerHitsOf(toks: Column, lang: String): Column =
    call_function("graft_marker_hits", toks, lit(lang))

  /** Composed-builtin form the native kernel is validated against. */
  def markerHitsOfHof(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isInCollection(langMarkers(lang))))
      .cast("long")

  /** Count of tokens containing a lowercase letter (Gopher
    * alphabetic-word measure) — native kernel, bit-equal to
    * `size(filter(toks, rlike("[a-z]")))`.
    */
  def alphaWordsOf(toks: Column): Column =
    call_function("graft_alpha_words", toks)

  /** Heuristic language id: argmax of marker hits, 'und' when no marker
    * fires. Deterministic tie-break by language code order.
    */
  def langId(c: Column): Column = langIdOf(tokens(c))

  /** [[langId]] over a pre-computed tokens column. */
  def langIdOf(toks: Column): Column = {
    val scored = langMarkers.keys.toSeq.sorted.map(l =>
      struct(markerHitsOf(toks, l).as("hits"), lit(l).as("lang")))
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** HTML → text (reference F9: BeautifulSoup.get_text on fixture HTML —
    * regex strip is the documented stand-in, SURVEY.md §2.7).
    */
  def stripHtml(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))

  /** Lenient cast with default (reference F11 safe_cast,
    * combine_broker_listings.py:167-175).
    */
  def safeCast(c: Column, to: String, default: Column): Column = {
    val v = c.try_cast(to)
    // the reference's safe_cast (get_edm_building_permits.py:33-41)
    // returns the DEFAULT for "NaN"/"nan" strings and NaN floats
    // (the explicit sentinel check + pd.isna), while try_cast parses
    // 'NaN' into a real NaN double — map it back to the default for
    // floating targets so no NaN ever leaks into a sink column
    if (to == "double" || to == "float")
      coalesce(when(isnan(v), lit(null)).otherwise(v), default)
    else coalesce(v, default)
  }

  /** Seconds → "H:MM:SS" (hours unpadded, may exceed 24 — the
    * reference folds timedelta days back into hours;
    * transcript_summaries.py:144-149).
    */
  def formatTimestampStr(seconds: Long): String = {
    val h = seconds / 3600; val m = (seconds % 3600) / 60
    val s = seconds % 60
    f"$h%d:$m%02d:$s%02d"
  }

  /** Unicode NFC normalization (native codegen kernel,
    * [[graft.plans.NfcNormalizeExpr]]): run BEFORE any fingerprint /
    * shingle / equality dedup so canonically-equivalent text (combining
    * marks vs precomposed chars, decomposed Hangul) hashes together.
    */
  def nfc(c: Column): Column = call_function("graft_nfc", c)

  /** Blocklist screen (native Aho–Corasick kernel,
    * [[graft.plans.AcMatchExpr]]): DISTINCT indexes (ascending) of the
    * `patterns` that occur as raw substrings of `c` — ONE linear pass
    * regardless of pattern count, vs K `contains()` scans (the
    * C4-badwords shape: at a real blocklist size the K-scan form is a
    * K× read amplification of the corpus-clean hot loop). Patterns are
    * compiled into the automaton at plan time; match is
    * case-sensitive — lowercase/normalize the column first for
    * case-blind policy screens.
    */
  def blocklistMatches(c: Column, patterns: Seq[String]): Column =
    call_function("graft_ac_match", c,
      array(patterns.map(lit): _*))

  /** Span-level blocklist screen ([[graft.plans.AcSpansExpr]]):
    * `array<struct<id:int,start:int,end:int>>` of EVERY match
    * occurrence of `patterns` in `c`, sorted by (start, end, id) —
    * the redaction / span-policy shape. Offsets are UTF-16 char units
    * (`end` exclusive), overlapping and nested matches are all
    * emitted; a redactor should union overlapping spans before
    * cutting. Same one-automaton-pass cost as [[blocklistMatches]].
    */
  def blocklistSpans(c: Column, patterns: Seq[String]): Column =
    call_function("graft_ac_spans", c,
      array(patterns.map(lit): _*))

  /** Multi-term redaction ([[graft.plans.AcRedactExpr]]): replace the
    * UNION of all `patterns` match intervals in `c` with `replacement`
    * — overlapping/nested/adjacent matches merge into one maximal
    * interval before cutting, so the result never re-exposes a partial
    * term the way K sequential order-dependent `regexp_replace`
    * rewrites can. One automaton pass regardless of pattern count —
    * the PII/policy-term companion to
    * [[graft.functions.PiiRules.redact]]'s pattern-shaped rules.
    */
  def redactTerms(c: Column, patterns: Seq[String],
                  replacement: String): Column =
    call_function("graft_ac_redact", c,
      array(patterns.map(lit): _*), lit(replacement))

  /** Case- and canonical-form-blind variant of [[blocklistMatches]]:
    * compiles the automaton over NFC-normalized lowercase patterns and
    * runs it against `graft_nfc(lower(c))` — one projection, no
    * second materialized text column. Returned indexes refer to the
    * ORIGINAL `patterns` order. Lowercasing uses Spark's `lower`
    * (locale-independent simple case folding) on the column and Java
    * `toLowerCase(Locale.ROOT)` on the patterns, which agree on the
    * scripts a policy blocklist realistically contains; the automaton
    * is byte-equality after that, no further folding.
    */
  def blocklistMatchesNormalized(c: Column, patterns: Seq[String]): Column = {
    val norm = patterns.map(p => java.text.Normalizer.normalize(
      p.toLowerCase(java.util.Locale.ROOT),
      java.text.Normalizer.Form.NFC))
    call_function("graft_ac_match", nfc(lower(c)),
      array(norm.map(lit): _*))
  }

  /** Unicode-script histogram (native one-pass kernel,
    * [[graft.plans.ScriptMixExpr]]): `array<long>` of
    * [latin, digit, cyrillic, cjk, other] code-point counts — the
    * mixed-script junk signal and language-pipeline router.
    */
  def scriptMix(c: Column): Column = call_function("graft_script_mix", c)

  /** Unigram-LM Viterbi corpus-encoding score under a trained piece
    * model ([[graft.plans.UnigramScoreExpr]]); `model` is the
    * [[graft.operators.Unigram]] serialized literal.
    */
  def unigramScore(c: Column, model: String): Column =
    call_function("graft_unigram_score", c, lit(model))

  /** URL canonicalization — the standard web-corpus dedup key (two
    * crawls of one page under trivially-different URLs must collide
    * BEFORE content dedup ever runs): lowercase scheme and host, strip
    * default ports (http:80, https:443), empty path → `/`, drop the
    * fragment, drop tracking params (`utm_*`, `fbclid`, `gclid`), and
    * sort the remaining query params byte-wise. Pure column algebra —
    * regexp extracts + a higher-order filter/sort — fully codegen'd,
    * no UDF. Unparseable URLs (no scheme://host) canonicalize to NULL
    * rather than a half-normalized string.
    *
    * [[canonicalUrl]] delegates to the native
    * [[graft.plans.CanonicalUrlExpr]] — one string pass instead of ~8
    * regexp extractions plus an interpreted higher-order filter/sort
    * per row (material at once-per-crawled-page cardinality);
    * [[canonicalUrlColumns]] is the composed-builtin reference the
    * native kernel is differential-tested against (the
    * planeSignatureHof precedent).
    */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_canonical_url", url)

  /** Composed-builtin reference for [[canonicalUrl]] — see scaladoc. */
  def canonicalUrlColumns(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // fragment goes FIRST: everything after '#' — including a '?' in a
    // hash-routed SPA path like /app#/home?tab=1 — must never leak
    // into the canonical query
    val pre = regexp_extract(url, "^([^#]*)", 1)
    val scheme = lower(regexp_extract(pre, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val authority = regexp_extract(pre, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    // userinfo (user:pw@) is dropped from the key; the remainder must
    // then be exactly host[:port] — with bracketed IPv6 literals
    // allowed — or the URL canonicalizes to NULL (a wrong non-NULL key
    // silently merges distinct hosts)
    val hostport = regexp_replace(authority, "^[^@]*@", "")
    val hostportOk = hostport.rlike(
      "^(\\[[0-9A-Fa-f:.]+\\]|[^:/?#\\[\\]@]+)(:[0-9]+)?$")
    val host = lower(regexp_extract(hostport,
      "^(\\[[0-9A-Fa-f:.]+\\]|[^:/?#\\[\\]@]+)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val portKept = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val rawPath = regexp_extract(pre, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?]*)", 1)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val query = regexp_extract(pre, "\\?(.*)$", 1)
    // tracking params match case-insensitively and with or without a
    // value (bare ?fbclid occurs in the wild)
    val kept = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(?i)(utm_[^=]*|fbclid|gclid)(=|$)")))
    val qstr = array_join(kept, "&")
    when(scheme === "" || host === "" || !hostportOk,
        lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, portKept, path,
        when(qstr === "", lit("")).otherwise(concat(lit("?"), qstr))))
  }

  private val sourceLinkPattern =
    """\[\[(\d+)]]\((https?://[^\s)]+?[&?]t=(\d+)s)\)""".r

  /** F17 — per-match source-link rewrite,
    * {{{
    * [[N]](url...&t=Ss)  becomes  [[H:MM:SS]](url)
    * }}}
    * with the timestamp rendered from the url's `t=`
    * seconds (transcript_summaries.py:151-159). The ONE Scala UDF in
    * the engine: Spark's regexp_replace has no per-match callback and
    * the replacement embeds a computed rendering of a captured group.
    * Null-safe; narrow per-row work, no shuffle implications.
    */
  val rewriteSourceLinks: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) null
      else sourceLinkPattern.replaceAllIn(text, m => {
        val ts = formatTimestampStr(m.group(3).toLong)
        scala.util.matching.Regex.quoteReplacement(
          s"[[$ts]](${m.group(2)})")
      })
    }
}
