package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.TableStore

/** Every persisted-index build ends in a [[TableStore.analyze]] commit,
  * and the generation a build returns must be that commit's: on a
  * store that retains no past generation, anything earlier is retired
  * by the time the build returns, and a `readAt`-style pinned serve of
  * it would fail.
  */
class IndexPinSpec extends SparkSpec {
  import spark.implicits._

  test("index builds return a generation readAt resolves at retainGenerations = 0") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_pin0").toString)
    store.append("corpus", (0L until 200L).map(i =>
      (i, s"doc $i joins table ${i % 7} on key ${i % 13} with hash ${i % 5}"))
      .toDF("doc_id", "text"))
    // each pin is checked before the next build runs: compactModel
    // commits past the model build's pin on purpose
    def pinned(t: String, gen: Long): Unit = {
      assert(store.generations(t) == Seq(gen), t)
      assert(store.readAt(t, gen).count() == store.read(t).count(), t)
    }
    pinned("lsh", DedupIndex.buildFromCorpus(store, "corpus", "lsh",
      "doc_id", "text"))
    pinned("lex", LexIndex.buildFromCorpus(store, "corpus", "lex",
      "doc_id", "text"))
    pinned("wix", WinnowIndex.buildFromCorpus(store, "corpus", "wix",
      "doc_id", "text"))
    pinned("lm", LmIndex.buildFromCorpus(store, "corpus", "lm", "text"))
    pinned("lm", LmIndex.compactModel(store, "lm"))
    pinned("uni", TokenizerIndex.buildUnigramFromCorpus(store, "corpus",
      "uni", "text", vocabSize = 50))
  }
}
