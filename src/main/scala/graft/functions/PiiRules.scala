package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII redaction — the standard pretraining scrub pass (emails, phone
  * numbers, IP addresses → typed placeholder tokens; north-star
  * operator, the reference has no corpus hygiene). A rule is data:
  * (name, pattern, replacement), applied as one codegen'd
  * regexp_replace cascade in a fixed fold order, so callers can extend
  * the set and any SQL mirror replays it exactly.
  *
  * Patterns are deliberately restricted to the common dialect of Java
  * regex and RE2 (no lookarounds, no backreferences) — the same
  * portability contract as the rest of TextFunctions' mirrors.
  *
  * Detection envelope of the SEED rules (rules are data — production
  * corpora extend the set rather than patching these): `phone` matches
  * only the NNN-NNN-NNNN form — parenthesized `(555) 123-4567`,
  * `+1`-prefixed, dotted, and bare-digit forms pass unredacted (false
  * negatives). `ip` accepts out-of-range octets (`999.1.1.1`) and,
  * having no word-boundary anchors (kept anchor-free for engine
  * portability), matches INSIDE longer dotted-numeric runs — a version
  * string like `10.2.3.4000` gets its prefix redacted (false
  * positives). `email` is the pragmatic RFC-lite form: no quoted
  * local parts, no IP-literal domains.
  */
object PiiRules {

  /** (name, pattern, replacement), applied in order — email first so an
    * address's dotted-numeric domain can never be half-eaten by the IP
    * rule.
    */
  val rules: Seq[(String, String, String)] = Seq(
    ("email",
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "[EMAIL]"),
    ("phone", "\\d{3}-\\d{3}-\\d{4}", "[PHONE]"),
    ("ip", "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "[IP]"))

  /** Text with every rule's matches replaced by its placeholder. */
  def redact(c: Column): Column =
    rules.foldLeft(c) { case (acc, (_, p, r)) =>
      regexp_replace(acc, p, r)
    }

  /** Per-rule match counts over the ORIGINAL text (audit columns:
    * how much PII a slice carries decides quarantine vs redact-and-keep).
    */
  def counts(c: Column): Seq[(String, Column)] =
    rules.map { case (n, p, _) =>
      s"n_$n" -> size(regexp_extract_all(c, lit(p), lit(0))).cast("long")
    }

  // ------------------------------------------- Luhn-validated cards

  /** Candidate runs are MAXIMAL digit sequences (single space/dash
    * separators allowed; Java∩RE2 dialect like every rule above) —
    * maximal, because a bounded 13-19-digit pattern GREEDILY MERGES a
    * card with an adjacent id ("ref 1234 4111111111111111" matched as
    * one 19-digit candidate that fails Luhn) and the real PAN escapes
    * redaction; judging whole runs closes that leak. A digit-run
    * REGEX ALONE is a terrible card detector either way — most
    * 16-digit runs are ids, not cards — which is why the card rule is
    * not in [[rules]]: a run must pass the [[luhnValid]] checksum
    * (whole, or any 13-19-digit sub-window for oversized runs) before
    * anything is redacted.
    */
  val ccRunPattern: String = "[0-9](?:[ -]?[0-9])*"

  /** Oversized runs are sub-window-scanned only up to this many
    * digits — beyond it the quadratic window sweep is not worth it
    * for what is a data blob, not a formatted PAN context.
    */
  val MaxCcRunDigits: Int = 48

  /** Luhn mod-10 sum of a digit-only string; positions counted from
    * the RIGHT, digits at positions ≡ `doubleParity` (mod 2) doubled
    * with 9-subtraction. Pure codegen HOFs (sequence → aggregate) —
    * no UDF.
    */
  private def luhnSum(digits: Column, doubleParity: Int): Column =
    aggregate(sequence(lit(1), length(digits)), lit(0),
      (acc, i) => {
        val d = ascii(digits.substr(length(digits) - i + lit(1),
          lit(1))) - lit(48)
        val dd = d * lit(2)
        acc + when(i % 2 === doubleParity,
          when(dd > 9, dd - 9).otherwise(dd)).otherwise(d)
      })

  /** Luhn checksum validity of a digit-only string (the full number,
    * check digit included — rightmost digit undoubled).
    */
  def luhnValid(digits: Column): Column =
    luhnSum(digits, 0) % 10 === 0

  /** The check digit that makes `digits || d` Luhn-valid (digits =
    * the number WITHOUT its check digit; every payload position
    * shifts one left, so doubling lands on odd right-positions here).
    */
  def luhnCheckDigit(digits: Column): Column =
    (lit(10) - luhnSum(digits, 1) % 10) % 10

  /** All maximal [[ccRunPattern]] runs with at least 13 digits after
    * separator stripping, match order.
    */
  def creditCardCandidates(c: Column): Column =
    filter(regexp_extract_all(c, lit(ccRunPattern), lit(0)),
      x => length(regexp_replace(x, "[ -]", "")) >= 13)

  /** Does this maximal run contain a card? Luhn is checked on every
    * SEPARATOR-GROUP-ALIGNED contiguous span whose digits total
    * 13-19 — the whole run is always such a span, and a card pasted
    * next to ids with its own formatting intact ("77-4111…1111-9",
    * "ref 1234 4111 1111 1111 1111") is still one aligned span, so
    * the greedy-merge leak is closed. Alignment is what keeps
    * precision: RAW 13-19-digit sub-windows would fire on ~1−0.9^35
    * of all 20-digit runs (Luhn passes a tenth of random strings),
    * redacting nearly every long id; separator boundaries are the
    * formatting evidence that a span is a number in its own right. A
    * card fused into one UNSEPARATED digit blob has no boundary
    * evidence and is out of detection scope (documented), as are runs
    * beyond [[MaxCcRunDigits]] digits (data blobs, and the span sweep
    * is quadratic in group count).
    */
  def runContainsCard(run: Column): Column = {
    val gs = split(run, "[ -]")
    val g = size(gs)
    val n = length(regexp_replace(run, "[ -]", ""))
    // all contiguous group spans, concatenated digits per span
    val spans = flatten(transform(sequence(lit(1), g), i =>
      transform(sequence(i, g), j =>
        array_join(slice(gs, i, j - i + lit(1)), ""))))
    n >= 13 && n <= MaxCcRunDigits &&
      exists(spans,
        w => length(w) >= 13 && length(w) <= 19 && luhnValid(w))
  }

  /** The candidate runs containing a Luhn-valid card. */
  def validCreditCards(c: Column): Column =
    filter(creditCardCandidates(c), runContainsCard(_))

  /** Text with every card-bearing run replaced by the placeholder —
    * checksum-failing runs (ids, timestamps, order numbers) stay
    * untouched, which is the entire point over a bare digit-run rule,
    * and a run where a card hides among adjacent digits is cut WHOLE
    * (redaction must over-cut, never leak). Replacement is a fold
    * over the matching runs in match order (literal replace, so a
    * later match embedded in an earlier replacement cannot
    * resurrect).
    */
  def redactCreditCards(c: Column,
                        placeholder: String = "[CC]"): Column =
    aggregate(validCreditCards(c), c,
      (acc, x) => replace(acc, x, lit(placeholder)))
}
