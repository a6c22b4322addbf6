package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{DedupIndex, LexIndex, LmIndex, TokenizerIndex,
  WinnowIndex}

/** The crash contract of the corpus-index refreshes
  * ([[graft.operators.CorpusIndex]]), proved for every family: a
  * `refreshFromCorpus` that dies just before any one of its commits
  * heals by calling it again — the index then equals a fresh
  * `buildFromCorpus` of the live corpus, and every index file carries
  * its pruning stats again. A count-delta refresh lands
  * its rows, stats and anchor in one merge commit, so while it is
  * crashed the index still holds the old model, never half a delta.
  */
class IndexCrashSpec extends SparkSpec with StoreCrashChecks {
  import spark.implicits._

  private val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  /** One index family: its build and refresh over table "corpus" into
    * table "ix", whether its refresh is the count-delta form, and the
    * rows a fresh build also holds (count-delta refreshes keep
    * zero-count rows a build never writes).
    */
  private case class Family(name: String, countDelta: Boolean,
                            build: TableStore => Any,
                            refresh: TableStore => Long,
                            live: Column = lit(true))

  private val families = Seq(
    Family("DedupIndex", countDelta = false,
      DedupIndex.buildFromCorpus(_, "corpus", "ix", "doc_id", "text"),
      DedupIndex.refreshFromCorpus(_, "corpus", "ix", "doc_id", "text")),
    Family("WinnowIndex", countDelta = false,
      WinnowIndex.buildFromCorpus(_, "corpus", "ix", "doc_id", "text"),
      WinnowIndex.refreshFromCorpus(_, "corpus", "ix", "doc_id", "text")),
    Family("LexIndex", countDelta = false,
      LexIndex.buildFromCorpus(_, "corpus", "ix", "doc_id", "text"),
      LexIndex.refreshFromCorpus(_, "corpus", "ix", "doc_id", "text")),
    Family("LmIndex", countDelta = true,
      LmIndex.buildFromCorpus(_, "corpus", "ix", "text"),
      LmIndex.refreshFromCorpus(_, "corpus", "ix", "text"),
      coalesce(col("cnt"), lit(1L)) > 0L),
    Family("TokenizerIndex unigram", countDelta = true,
      TokenizerIndex.buildUnigramFromCorpus(_, "corpus", "ix", "text",
        vocabSize = 25),
      TokenizerIndex.refreshUnigramFromCorpus(_, "corpus", "ix", "text"),
      coalesce(col("freq"), lit(1L)) > 0L))

  private def freshStore() = new TableStore(spark,
    Files.createTempDirectory("graft_ixcrash").toString,
    retainGenerations = 10)

  /** The index content a rebuild must match: anchors aside (two
    * stores number their generations differently).
    */
  private def index(ts: TableStore, f: Family): Seq[String] =
    content(ts.read("ix").filter(f.live).drop("corpus_gen"))

  /** A store whose index was built, then the corpus churned past it:
    * an append, a delete, and an update (a delete+insert pair).
    */
  private def churned(f: Family): TableStore = {
    val ts = freshStore()
    ts.append("corpus", docs.filter(col("doc_id") < 30))
    f.build(ts)
    ts.append("corpus",
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 40))
    ts.deleteByKeys("corpus", (0L until 5L).toDF("doc_id"),
      Seq("doc_id"))
    ts.merge("corpus",
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 15)
        .select(col("doc_id"),
          concat(col("text"), lit(" zebra quux")).as("text")),
      "doc_id", TableStore.MergeUpdate(Seq("text")))
    ts
  }

  families.foreach { f =>
    test(s"${f.name}: a refresh crashed before any commit heals on re-run") {
      val first = churned(f)
      val old = index(first, f)
      val want = {
        val rebuilt = freshStore()
        rebuilt.append("corpus", first.read("corpus"))
        f.build(rebuilt)
        index(rebuilt, f)
      }
      assert(old != want, "the churn must change the index")
      // crash before the refresh's 1st, 2nd, ... commit until it
      // completes without reaching the injected one
      var k = 0
      var completed = false
      while (!completed) {
        val ts = if (k == 0) first else churned(f)
        var commits = 0
        ts.beforeBeginCommit = () => {
          commits += 1
          if (commits == k + 1)
            throw new IllegalStateException("injected crash before commit")
        }
        completed =
          try { f.refresh(ts); true }
          catch {
            case e: IllegalStateException
                if e.getMessage.contains("injected") => false
          }
          finally ts.beforeBeginCommit = () => ()
        if (!completed) {
          if (f.countDelta)
            assert(index(ts, f) == old,
              s"crash before commit ${k + 1} left a half-applied model")
          assert(f.refresh(ts) == ts.generations("corpus").last)
          k += 1
        }
        assert(index(ts, f) == want, s"healed index after crash point $k")
        // the re-run also re-covers files a crashed closing analyze left
        // without stats, so serve-path file pruning heals too
        val head = ts.readManifest("ix").get
        assert(head.paths.forall(head.stats.contains),
          s"unanalyzed index files after crash point $k")
      }
      // doc-keyed: delete, append, stats update, analyze; count-delta:
      // the merge (its files carry stats, so the analyze commits nothing)
      assert(k == (if (f.countDelta) 1 else 4), s"$k crash points")
    }
  }
}
