package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.TableStore
import org.apache.spark.sql.functions._

/** Persisted n-gram count model ([[LmIndex]]): every served score must
  * equal the inline [[Lm]] scorer bit-for-bit, the single-commit
  * delta refresh must equal a fresh rebuild across churn, replayed
  * refreshes must no-op on the anchor, and zero-count tombstones must
  * never reach a served scorer.
  */
class LmIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"), col("source"))

  private def freshStore() = new TableStore(spark,
    Files.createTempDirectory("graft_lmix").toString,
    retainGenerations = 10)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("all three served scorers == inline, bit-for-bit") {
    val store = freshStore()
    val target = docs.filter(col("source").isin("src0", "src1"))
      .select(col("doc_id"), col("text"))
    store.append("target", target)
    LmIndex.buildFromCorpus(store, "target", "lm", "text")
    val probe = docs.filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    assert(rows(LmIndex.stupidBackoffScoresServed(store, "lm", probe,
        "doc_id", "text")) ==
      rows(Lm.stupidBackoffScores(probe, target, "doc_id", "text")),
      "stupid backoff bigram")
    assert(rows(LmIndex.stupidBackoffTrigramScoresServed(store, "lm",
        probe, "doc_id", "text")) ==
      rows(Lm.stupidBackoffTrigramScores(probe, target, "doc_id",
        "text")),
      "stupid backoff trigram")
    assert(rows(LmIndex.kneserNeyScoresServed(store, "lm", probe,
        "doc_id", "text")) ==
      rows(Lm.kneserNeyScores(probe, target, "doc_id", "text")),
      "kneser-ney")
  }

  test("refreshFromCorpus == fresh rebuild across churn; replay no-ops") {
    val store = freshStore()
    store.append("target", docs.filter(col("doc_id") < 30)
      .select(col("doc_id"), col("text")))
    LmIndex.buildFromCorpus(store, "target", "lm", "text")
    // churn: append, delete, update (delete+insert pair via merge)
    store.append("target",
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)
        .select(col("doc_id"), col("text")))
    store.deleteByKeys("target", (0L until 5L).toDF("doc_id"),
      Seq("doc_id"))
    store.merge("target",
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 15)
        .select(col("doc_id"),
          concat(col("text"), lit(" zebra quux")).as("text")),
      "doc_id", TableStore.MergeUpdate(Seq("text")))
    val to = LmIndex.refreshFromCorpus(store, "target", "lm", "text")
    assert(to == store.generations("target").last)
    // replayed refresh: anchor already advanced, nothing changes
    assert(LmIndex.refreshFromCorpus(store, "target", "lm", "text")
      == to)
    val full = freshStore()
    full.append("target", store.read("target"))
    LmIndex.buildFromCorpus(full, "target", "lm", "text")
    def model(s: TableStore): Seq[(String, String, Long)] =
      s.read("lm").filter(col("component") =!= "stats" &&
          col("cnt") > 0L)
        .select(col("component"), col("gram"), col("cnt"))
        .as[(String, String, Long)].collect().sorted.toSeq
    assert(model(store) == model(full))
    // stats row n/v == a recount over the live uni component
    val (n, v) = store.read("lm")
      .filter(col("component") === "uni" && col("cnt") > 0L)
      .agg(sum(col("cnt")), count(lit(1))).as[(Long, Long)].head()
    val meta = CorpusIndex.parseJson(
      store.read("lm").filter(col("component") === "stats")
        .select(col("meta")).as[String].head())
    assert(meta("n").toLong == n && meta("v").toLong == v)
    // and a probe scores identically under both models
    val probe = docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
    assert(rows(LmIndex.kneserNeyScoresServed(store, "lm", probe,
        "doc_id", "text")) ==
      rows(LmIndex.kneserNeyScoresServed(full, "lm", probe,
        "doc_id", "text")))
  }

  test("cnt=0 tombstones never reach a serve; compactModel drops them") {
    val store = freshStore()
    store.append("target", Seq(
      (1L, "unique snowflake words here"),
      (2L, "common shared phrase text"),
      (3L, "common shared phrase text again")
    ).toDF("doc_id", "text"))
    LmIndex.buildFromCorpus(store, "target", "lm", "text")
    store.deleteByKeys("target", Seq(1L).toDF("doc_id"), Seq("doc_id"))
    LmIndex.refreshFromCorpus(store, "target", "lm", "text")
    val zeros = store.read("lm")
      .filter(col("component") === "uni" && col("cnt") === 0L)
      .select(col("gram")).as[String].collect().toSet
    assert(zeros.contains("snowflake"), zeros.toString)
    val probe = Seq((9L, "unique snowflake common shared"))
      .toDF("doc_id", "text")
    val servedBefore = rows(LmIndex.stupidBackoffScoresServed(store,
      "lm", probe, "doc_id", "text"))
    // reference: inline model over the post-delete target
    assert(servedBefore == rows(Lm.stupidBackoffScores(probe,
      store.read("target"), "doc_id", "text")))
    LmIndex.compactModel(store, "lm")
    assert(store.read("lm").filter(col("cnt") === 0L).count() == 0)
    assert(rows(LmIndex.stupidBackoffScoresServed(store, "lm", probe,
      "doc_id", "text")) == servedBefore)
  }
}
