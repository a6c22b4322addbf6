package graft.operators

import graft.SparkSpec
import graft.operators.Expectations.Rule
import org.apache.spark.sql.functions._

class ExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private val batch = Seq(
    (1L, "en", 250L),                 // clean
    (2L, "zh", 250L),                 // lang violation
    (3L, "en", 10L),                  // chars violation
    (4L, "zh", 10L),                  // both
    (5L, null.asInstanceOf[String], 250L) // NULL lang -> violation
  ).toDF("id", "lang", "n")

  private val rules = Seq(
    Rule("chars_min", col("n") >= 200L),
    Rule("lang_allowed", col("lang").isin("en", "fr")))

  test("annotate: violated rule names in declaration order; NULL fails") {
    val got = Expectations.annotate(batch, rules)
      .select($"id", $"__violations")
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq.empty)
    assert(got(2L) == Seq("lang_allowed"))
    assert(got(3L) == Seq("chars_min"))
    assert(got(4L) == Seq("chars_min", "lang_allowed"))
    assert(got(5L) == Seq("lang_allowed"))
  }

  test("accounting: per-rule counts plus admitted/total rows") {
    val got = Expectations.accounting(batch, rules)
      .as[(String, Long)].collect().toMap
    assert(got == Map("chars_min" -> 2L, "lang_allowed" -> 3L,
      "__admitted" -> 1L, "__total" -> 5L), got.toString)
    // empty batch: zero counts, not an empty report
    val empty = Expectations.accounting(batch.filter($"id" < 0), rules)
      .as[(String, Long)].collect().toMap
    assert(empty == Map("chars_min" -> 0L, "lang_allowed" -> 0L,
      "__admitted" -> 0L, "__total" -> 0L), empty.toString)
    intercept[IllegalArgumentException] {
      Expectations.accounting(batch, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Expectations.accounting(batch,
        Seq(Rule("a", lit(true)), Rule("a", lit(false))))
    }
  }

  test("accountingBy: per-group violation trend columns") {
    val grouped = Seq(
      ("d1", "en", 250L), ("d1", "zh", 250L), ("d1", "en", 10L),
      ("d2", "fr", 300L))
      .toDF("day", "lang", "n")
    val got = Expectations.accountingBy(grouped, "day", rules)
      .orderBy($"day")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // d1: 3 rows, 1 chars violation, 1 lang violation, 1 admitted
    assert(got == Seq(("d1", 3L, 1L, 1L, 1L), ("d2", 1L, 0L, 0L, 1L)),
      got.toString)
    intercept[IllegalArgumentException] {
      Expectations.accountingBy(grouped, "day", Seq.empty)
    }
  }

  test("riAudit: planted orphans, null keys, duplicate parents") {
    val parent = Seq(1L, 2L, 2L, 3L).toDF("pk") // dup must not inflate
    val child = Seq(Some(1L), Some(2L), Some(2L), Some(7L), Some(8L),
      None).toDF("fk")
    val got = Expectations.riAudit(child, "fk", parent, "pk", "c->p")
      .as[(String, Long, Long, Long, Long)].collect().head
    // 6 child rows, 1 null, orphans 7 and 8 -> 2; ppm = 2e6 div 6
    assert(got == (("c->p", 6L, 1L, 2L, 333333L)), got.toString)
    // null parent keys never match anything (no null-join surprises)
    val pNull = Seq(Some(1L), None).toDF("pk")
    val gotN = Expectations.riAudit(
        Seq(Some(1L), None).toDF("fk"), "fk", pNull, "pk", "r")
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(gotN == (("r", 2L, 1L, 0L, 0L)), gotN.toString)
    // clean relation reports exact zeros
    val gotC = Expectations.riAudit(
        Seq(1L, 2L).toDF("fk"), "fk", parent, "pk", "ok")
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(gotC == (("ok", 2L, 0L, 0L, 0L)), gotC.toString)
  }
}
