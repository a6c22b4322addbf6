package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PiiRulesSpec extends SparkSpec {
  import spark.implicits._

  private def redactOne(text: String): (String, Long, Long, Long) = {
    val df = Seq(text).toDF("t")
    val withCounts = PiiRules.counts($"t").foldLeft(df) {
      case (d, (n, c)) => d.withColumn(n, c)
    }
    withCounts.withColumn("r", PiiRules.redact($"t"))
      .select($"r", $"n_email", $"n_phone", $"n_ip")
      .as[(String, Long, Long, Long)].head()
  }

  test("clean text passes through unchanged with zero counts") {
    assert(redactOne("no pii here at all") ==
      (("no pii here at all", 0L, 0L, 0L)))
  }

  test("each rule redacts and counts its own matches") {
    val (r, e, p, i) =
      redactOne("mail a.b+c@x-y.co phone 123-456-7890 ip 192.168.0.1")
    assert(r == "mail [EMAIL] phone [PHONE] ip [IP]")
    assert((e, p, i) == ((1L, 1L, 1L)))
  }

  test("email rule runs first: dotted-numeric domains are not half-eaten") {
    // the domain contains an IP-shaped substring; the email match must
    // consume it whole before the IP rule runs
    val (r, e, _, i) = redactOne("x bob@10.0.0.17.example.com y")
    assert(r == "x [EMAIL] y", r)
    assert(e == 1L)
    assert(i == 1L) // the count audits the ORIGINAL text, which does
                    // contain an IP-shaped run — redaction disagreeing
                    // with counts is exactly the audit's point
  }

  test("multiple and adjacent matches all redact") {
    val (r, e, p, _) = redactOne("a@b.com c@d.org 111-222-3333 444-555-6666")
    assert(r == "[EMAIL] [EMAIL] [PHONE] [PHONE]")
    assert((e, p) == ((2L, 2L)))
  }

  test("blocklist redaction composes with the pattern rules") {
    // literal terms cut via the AC interval-union kernel FIRST, then
    // the pattern cascade — a term containing '@' is taken whole, not
    // half-eaten by the email rule
    val terms = Seq("project zeus", "zeus", "ops@internal")
    val got = Seq(
      "about project zeus and ops@internal today",
      "mail a@b.com about zeus",
      "clean line").toDF("t")
      .withColumn("r", PiiRules.redact(
        TextFunctions.redactTerms($"t", terms, "[REDACTED]")))
      .select($"r").as[String].collect().toSeq
    assert(got == Seq(
      "about [REDACTED] and [REDACTED] today",
      "mail [EMAIL] about [REDACTED]",
      "clean line"), got.toString)
  }

  test("luhnValid matches the textbook checksums") {
    // standard test PANs: Visa/MC/Amex valid; off-by-one invalid
    val cases = Seq(
      ("4111111111111111", true), ("5500005555555559", true),
      ("378282246310005", true),  // 15-digit Amex
      ("4111111111111112", false), ("1234567812345678", false))
    val got = cases.map(_._1).toDF("d")
      .withColumn("ok", PiiRules.luhnValid($"d"))
      .as[(String, Boolean)].collect().toMap
    cases.foreach { case (d, e) => assert(got(d) == e, d) }
    // check digit inverts validity: payload + computed digit is valid
    val payloads = Seq("411111111111111", "550000555555555",
      "37828224631000")
    val chk = payloads.toDF("p")
      .withColumn("full",
        concat($"p", PiiRules.luhnCheckDigit($"p").cast("string")))
      .withColumn("ok", PiiRules.luhnValid($"full"))
      .as[(String, String, Boolean)].collect()
    chk.foreach { case (p, f, ok) => assert(ok, s"$p -> $f") }
  }

  test("redactCreditCards cuts only Luhn-valid runs") {
    val got = Seq(
      // spaced valid PAN + bare invalid run + short id untouched
      "pay 4111 1111 1111 1111 ref 1234567812345678 id 12345",
      // dashed valid + a 12-digit run (too short for a candidate)
      "card 5500-0055-5555-5559 ok 123456789012",
      "no digits at all").toDF("t")
      .select(PiiRules.redactCreditCards($"t").as("r"),
        size(PiiRules.creditCardCandidates($"t")).as("nc"),
        size(PiiRules.validCreditCards($"t")).as("nv"))
      .as[(String, Int, Int)].collect().toSeq
    assert(got == Seq(
      ("pay [CC] ref 1234567812345678 id 12345", 2, 1),
      ("card [CC] ok 123456789012", 1, 1),
      ("no digits at all", 0, 0)), got.toString)
  }

  test("a separated card glued to adjacent ids cannot escape redaction") {
    val got = Seq(
      // 4-digit id one space before a valid card: ONE 20-digit run,
      // but the card keeps its group boundaries — the aligned span
      // finds it and the whole run is cut (over-cut, never leak)
      "ref 1234 4111 1111 1111 1111 end",
      // same shape with the invalid twin: no aligned span passes
      // (the only other 13-19-digit span, 1234+4111+1111+1111, fails
      // Luhn too), so nothing is redacted
      "ref 1234 4111 1111 1111 1112 end",
      // card sandwiched between two dash-separated ids: 19 stripped
      // digits, whole-run Luhn fails, the aligned PAN span still hits
      "a 77-4111111111111111-9 b",
      // an oversized unseparated blob (> MaxCcRunDigits digits) has
      // no boundary evidence and is not scanned — documented cap
      ("blob " + "9" * 40 + "4111111111111111" + "9" * 40 + " end")
    ).toDF("t")
      .select(PiiRules.redactCreditCards($"t").as("r"),
        size(PiiRules.validCreditCards($"t")).as("nv"))
      .as[(String, Int)].collect().toSeq
    assert(got(0) == (("ref [CC] end", 1)), got(0).toString)
    assert(got(1) == (("ref 1234 4111 1111 1111 1112 end", 0)),
      got(1).toString)
    assert(got(2) == (("a [CC] b", 1)), got(2).toString)
    assert(got(3)._2 == 0 && got(3)._1.contains("9411"),
      got(3).toString)
  }
}
