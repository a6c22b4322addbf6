package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.TableStore
import org.apache.spark.sql.functions._

/** Persisted MinHash band index ([[DedupIndex]]): every served screen
  * must equal the inline [[Dedup.lshCandidatePairsAgainst]] over the
  * live corpus text bit-for-bit, change-feed refresh must equal a
  * fresh rebuild, parameters must pin, and pinned generations must
  * re-screen identically after refreshes.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def freshStore() = new TableStore(spark,
    Files.createTempDirectory("graft_dix").toString,
    retainGenerations = 10)

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet

  private def content(store: TableStore, table: String) =
    store.readWhere(table, col("component") === "band")
      .select(col("doc_id"), col("band"))
      .as[(Long, Long)].collect().sorted.toSeq

  test("served screen == inline lshCandidatePairsAgainst; params pin") {
    val store = freshStore()
    val corpus = docs.filter(col("doc_id") < 35)
    val batch = docs.filter(col("doc_id") >= 35)
    store.append("corpus", corpus)
    // non-default params: the screen must read them from the stats
    // row, not re-assume defaults
    DedupIndex.buildFromCorpus(store, "corpus", "lsh", "doc_id", "text",
      shingleN = 2, k = 32, bands = 8)
    val served = pairs(DedupIndex.screen(store, "lsh", batch,
      "doc_id", "text"))
    val inline = pairs(Dedup.lshCandidatePairsAgainst(corpus, batch,
      "doc_id", "text", shingleN = 2, k = 32, bands = 8))
    assert(served == inline)
    // the stats row pins the build's parameters (the screen equality
    // above used them; both param sets happen to find the same pairs
    // on this small fixture, so assert the pin itself)
    val meta = CorpusIndex.parseJson(
      store.readWhere("lsh", col("component") === "stats")
        .select(col("meta")).as[String].collect().head)
    assert(meta == Map("shingleN" -> "2", "k" -> "32", "bands" -> "8"),
      meta.toString)
    // and the band CONTENT differs from a default-params build — the
    // served==inline equality is not comparing identical tables
    val def4 = freshStore()
    def4.append("corpus", corpus)
    DedupIndex.buildFromCorpus(def4, "corpus", "lsh", "doc_id", "text")
    assert(content(store, "lsh") != content(def4, "lsh"))
  }

  test("refreshFromCorpus == fresh rebuild across churn; no-op when current") {
    val store = freshStore()
    store.append("corpus", docs.filter(col("doc_id") < 30))
    DedupIndex.buildFromCorpus(store, "corpus", "lsh", "doc_id", "text")
    // churn: append, delete, update (delete+insert pair via merge)
    store.append("corpus",
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 40))
    store.deleteByKeys("corpus", (0L until 5L).toDF("doc_id"),
      Seq("doc_id"))
    store.merge("corpus",
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 15)
        .select(col("doc_id"),
          concat(col("text"), lit(" zebra quux")).as("text")),
      "doc_id", TableStore.MergeUpdate(Seq("text")))
    val to = DedupIndex.refreshFromCorpus(store, "corpus", "lsh",
      "doc_id", "text")
    assert(to == store.generations("corpus").last)
    val full = freshStore()
    full.append("corpus", store.read("corpus"))
    DedupIndex.buildFromCorpus(full, "corpus", "lsh", "doc_id", "text")
    assert(content(store, "lsh") == content(full, "lsh"))
    // current index: refresh is a no-op returning the same generation
    assert(DedupIndex.refreshFromCorpus(store, "corpus", "lsh",
      "doc_id", "text") == to)
    assert(content(store, "lsh") == content(full, "lsh"))
  }

  test("screen prunes index files by the batch's bands; results equal") {
    val store = freshStore()
    val corpus = docs.filter(col("doc_id") < 60)
    // one near-dup probe of a corpus doc (so the screen is non-empty)
    val batch = docs.filter(col("doc_id") === 60)
    store.append("corpus", corpus)
    DedupIndex.buildFromCorpus(store, "corpus", "lsh", "doc_id", "text",
      indexFiles = 4)
    val total = store.read("lsh").inputFiles.length
    assert(total > 1, s"fixture must split the index, got $total file(s)")
    // the batch occupies few bands -> the IN-pruned read must touch
    // fewer files than the full band component (batch side is
    // in-memory, so inputFiles counts only index files)
    val pruned = DedupIndex.screen(store, "lsh", batch,
      "doc_id", "text")
    assert(pruned.inputFiles.length < total,
      s"${pruned.inputFiles.length} of $total")
    // and pruning never changes the candidate set: force the full
    // read via maxPrunedBands = 0 and compare
    val full = DedupIndex.screen(store, "lsh", batch, "doc_id", "text",
      maxPrunedBands = 0)
    assert(pairs(pruned) == pairs(full))
  }

  test("admit == inline verify over the full doc set, at the pinned width") {
    val store = freshStore()
    val corpus = docs.filter(col("doc_id") < 35)
    val batch = docs.filter(col("doc_id") >= 35)
    store.append("corpus", corpus)
    DedupIndex.buildFromCorpus(store, "corpus", "lsh", "doc_id", "text",
      shingleN = 2, k = 32, bands = 8)
    val kept = DedupIndex.admit(store, "lsh", "corpus", batch,
        "doc_id", "text", threshold = 0.2)
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    // reference: verify EVERY inline candidate over all texts — the
    // corpus-side semi-join narrowing must not change the verdict, and
    // the shingle width must come from the pinned stats row (2, not
    // the default 3)
    def dups(p: org.apache.spark.sql.DataFrame) =
      p.select(col("id_b").cast("long")).as[Long].collect().toSet
    val vsCorpus = dups(Dedup.verifyJaccard(
      Dedup.lshCandidatePairsAgainst(corpus, batch, "doc_id", "text",
        shingleN = 2, k = 32, bands = 8),
      docs, "doc_id", "text", shingleN = 2, threshold = 0.2))
    val withinBatch = dups(Dedup.verifyJaccard(
      Dedup.lshCandidatePairs(batch, "doc_id", "text",
        shingleN = 2, k = 32, bands = 8),
      batch, "doc_id", "text", shingleN = 2, threshold = 0.2))
    val all = batch.select(col("doc_id").cast("long")).as[Long]
      .collect().toSet
    assert(vsCorpus.nonEmpty, "fixture must hold corpus near-dups")
    assert(kept == all -- vsCorpus -- withinBatch)
    Dedup.releaseIntermediates()
  }

  test("admit: corpus dups and larger-id within-batch dups drop") {
    val store = freshStore()
    store.append("corpus", Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text"))
    DedupIndex.buildFromCorpus(store, "corpus", "lsh", "doc_id", "text",
      shingleN = 2, k = 16, bands = 8)
    val batch = Seq(
      // near-dup of corpus doc 1 → dropped
      (10L, "alpha beta gamma delta epsilon zeta eta iota"),
      // mutual near-dups: 11 keeps (min id), 12 drops
      (11L, "one two three four five six seven eight nine"),
      (12L, "one two three four five six seven eight ten"),
      // unique → kept
      (13L, "completely different content about spark plans here")
    ).toDF("doc_id", "text")
    val kept = DedupIndex.admit(store, "lsh", "corpus", batch,
      "doc_id", "text", threshold = 0.5)
    assert(kept.select(col("doc_id")).as[Long].collect().sorted.toSeq ==
      Seq(11L, 13L))
    // survivors keep the batch's original schema and rows unchanged
    assert(kept.columns.toSeq == batch.columns.toSeq)
  }

  test("screenAt: pinned generation re-screens pre-refresh results") {
    val store = freshStore()
    val batch = docs.filter(col("doc_id") >= 40)
    store.append("corpus", docs.filter(col("doc_id") < 25))
    val g1 = DedupIndex.buildFromCorpus(store, "corpus", "lsh",
      "doc_id", "text")
    val before = pairs(DedupIndex.screen(store, "lsh", batch,
      "doc_id", "text"))
    store.append("corpus",
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 40))
    DedupIndex.refreshFromCorpus(store, "corpus", "lsh",
      "doc_id", "text")
    val after = pairs(DedupIndex.screen(store, "lsh", batch,
      "doc_id", "text"))
    assert(before != after) // the refresh genuinely changed the screen
    assert(pairs(DedupIndex.screenAt(store, "lsh", g1, batch,
      "doc_id", "text")) == before)
  }
}
