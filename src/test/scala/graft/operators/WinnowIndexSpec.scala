package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.TableStore
import org.apache.spark.sql.functions._

/** Persisted winnowing fingerprint index ([[WinnowIndex]]): every
  * served screen must equal the inline cross-side fingerprint pairing
  * bit-for-bit, change-feed refresh must equal a fresh rebuild, file
  * pruning must be invisible in results, and parameters must pin.
  */
class WinnowIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def freshStore() = new TableStore(spark,
    Files.createTempDirectory("graft_wix").toString,
    retainGenerations = 10)

  private def shared(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"),
        col("n_shared").cast("long"))
      .as[(Long, Long, Long)].collect().toSet

  /** Inline twin of the served screen: cross-side fingerprint pairing
    * with the df cap counted over the corpus side.
    */
  private def inlineScreen(corpus: org.apache.spark.sql.DataFrame,
                           batch: org.apache.spark.sql.DataFrame,
                           k: Int, w: Int, minShared: Long,
                           maxDf: Int) = {
    val cfp = Dedup.winnowFingerprints(corpus, "doc_id", "text", k, w)
      .select(col("doc_id").as("id_a"), col("fp")).distinct()
    val bfp = Dedup.winnowFingerprints(batch, "doc_id", "text", k, w)
      .select(col("doc_id").as("id_b"), col("fp")).distinct()
    val keep = cfp.groupBy(col("fp")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDf).select(col("fp"))
    cfp.join(keep, "fp").join(bfp, "fp")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  private def fpContent(store: TableStore, table: String) =
    store.readWhere(table, col("component") === "fp")
      .select(col("doc_id"), col("fp"))
      .as[(Long, Long)].collect().sorted.toSeq

  test("served screen == inline pairing; non-default params pin") {
    val store = freshStore()
    val corpus = docs.filter(col("doc_id") < 35)
    val batch = docs.filter(col("doc_id") >= 35)
    store.append("corpus", corpus)
    WinnowIndex.buildFromCorpus(store, "corpus", "wix", "doc_id",
      "text", k = 3, w = 4)
    val served = shared(WinnowIndex.screen(store, "wix", batch,
      "doc_id", "text", minShared = 1L, maxDf = 16))
    val inline = shared(inlineScreen(corpus, batch, k = 3, w = 4,
      minShared = 1L, maxDf = 16))
    assert(served == inline, "served screen drifted from inline")
    assert(served.nonEmpty, "fixture found no shared passages at all")
    val meta = CorpusIndex.parseJson(
      store.readWhere("wix", col("component") === "stats")
        .select(col("meta")).as[String].collect().head)
    assert(meta == Map("k" -> "3", "w" -> "4", "salt" -> "winnow"),
      meta.toString)
  }

  test("file pruning is invisible: pruned == forced-full read") {
    val store = freshStore()
    store.append("corpus", docs.filter(col("doc_id") < 35))
    WinnowIndex.buildFromCorpus(store, "corpus", "wix", "doc_id",
      "text", indexFiles = 4)
    val batch = docs.filter(col("doc_id") >= 35)
    val pruned = shared(WinnowIndex.screen(store, "wix", batch,
      "doc_id", "text"))
    val full = shared(WinnowIndex.screen(store, "wix", batch,
      "doc_id", "text", maxPrunedFps = 0))
    assert(pruned == full)
  }

  test("refresh from churn == fresh rebuild; replay is a no-op") {
    val store = freshStore()
    val c0 = docs.filter(col("doc_id") < 30)
    store.append("corpus", c0)
    WinnowIndex.buildFromCorpus(store, "corpus", "wix", "doc_id", "text")
    // churn: drop some docs, add others, update one text
    store.deleteWhere("corpus", col("doc_id") % 7 === 0)
    store.append("corpus",
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 40))
    store.merge("corpus",
      docs.filter(col("doc_id") === 3)
        .select(col("doc_id"), concat(col("text"), lit(" extra extra"))
          .as("text")),
      "doc_id", TableStore.MergeUpdate(Seq("text")))
    val gen = WinnowIndex.refreshFromCorpus(store, "corpus", "wix",
      "doc_id", "text")
    assert(gen == store.generations("corpus").last)
    // rebuild twin over the same corpus content
    val twin = freshStore()
    twin.append("corpus", store.read("corpus"))
    WinnowIndex.buildFromCorpus(twin, "corpus", "wix", "doc_id", "text")
    assert(fpContent(store, "wix") == fpContent(twin, "wix"),
      "refreshed index content diverged from rebuild")
    // replay: refresh again with no new corpus commits — no-op
    val before = store.generations("wix").last
    assert(WinnowIndex.refreshFromCorpus(store, "corpus", "wix",
      "doc_id", "text") == gen)
    assert(store.generations("wix").last == before)
    // screens through the refreshed index still equal inline
    val batch = docs.filter(col("doc_id") >= 40 && col("doc_id") < 55)
    assert(shared(WinnowIndex.screen(store, "wix", batch, "doc_id",
        "text")) ==
      shared(inlineScreen(store.read("corpus"), batch, 4, 5, 1L, 64)))
  }

  test("df cap drops boilerplate fingerprints from pairing") {
    val store = freshStore()
    // every corpus doc carries the same boilerplate passage
    val boiler = "standard legal disclaimer text appears everywhere " +
      "in this corpus without exception"
    val corpus = (1L to 12L)
      .map(i => (i, s"doc body number $i " + boiler))
      .toDF("doc_id", "text")
    val batch = Seq((100L, boiler)).toDF("doc_id", "text")
    store.append("corpus", corpus)
    WinnowIndex.buildFromCorpus(store, "corpus", "wix", "doc_id", "text")
    // cap below the boilerplate df (12): nothing pairs
    assert(shared(WinnowIndex.screen(store, "wix", batch, "doc_id",
      "text", maxDf = 8)).isEmpty)
    // cap above it: the quoting batch doc pairs with every carrier
    val hits = shared(WinnowIndex.screen(store, "wix", batch, "doc_id",
      "text", maxDf = 16))
    assert(hits.map(_._1) == (1L to 12L).toSet, hits.toString)
  }

  test("screenAt: a pinned generation re-serves across refreshes") {
    val store = freshStore()
    store.append("corpus", docs.filter(col("doc_id") < 30))
    WinnowIndex.buildFromCorpus(store, "corpus", "wix", "doc_id", "text")
    val pin = store.generations("wix").last
    val batch = docs.filter(col("doc_id") >= 40 && col("doc_id") < 55)
    val before = shared(WinnowIndex.screenAt(store, "wix", pin, batch,
      "doc_id", "text"))
    // live screen agrees with the pin while nothing has changed
    assert(before == shared(WinnowIndex.screen(store, "wix", batch,
      "doc_id", "text")))
    // churn + refresh: the LIVE screen may change; the PIN must not
    store.append("corpus",
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 40))
    WinnowIndex.refreshFromCorpus(store, "corpus", "wix", "doc_id",
      "text")
    assert(shared(WinnowIndex.screenAt(store, "wix", pin, batch,
      "doc_id", "text")) == before,
      "pinned screen drifted after a refresh")
  }

  test("loud envelopes") {
    val store = freshStore()
    store.append("corpus", docs.limit(5))
    WinnowIndex.buildFromCorpus(store, "corpus", "wix", "doc_id", "text")
    intercept[IllegalArgumentException] {
      WinnowIndex.screen(store, "wix", docs.limit(2), "doc_id", "text",
        minShared = 0L)
    }
    intercept[IllegalArgumentException] {
      WinnowIndex.screen(store, "wix", docs.limit(2), "doc_id", "text",
        maxDf = 0)
    }
  }
}
