package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Chunker, TopK, Upsert}
import graft.sources.TableStore

/** The council-transcripts DAG (SURVEY.md §3.3,
  * dags/DAG_get_city_council_transcripts.py) as one Spark job:
  * ingest -> chunk+embed+index -> retrieve+summarize, with the
  * reference's incremental-processing flags (vectorized/summarized,
  * L6/K7) as anti-join + flag-flip on the table store.
  *
  * Embedding/LLM calls sit behind [[Enrichment]] stubs (U5): the plan
  * shape — explode map, ONE shuffle for the per-transcript window, a
  * narrow embed projection, top-k window for retrieval — is the
  * production shape.
  */
final class Transcripts(spark: SparkSession, store: TableStore,
                        embedDim: Int = 64) {

  /** Ingest scraped transcripts (S9 output contract), skipping video
    * urls already present (J7 semi/anti-join).
    */
  def ingest(scraped: DataFrame): Unit =
    store.upsert("council_transcripts",
      scraped
        .withColumn("summarized", lit(0))
        .withColumn("vectorized", lit(0)),
      keys = Seq("video_url"), tieBreak = Seq("title"))

  /** transcripts_to_vector_db.py:174-301: for not-yet-vectorized
    * transcripts, explode the {seconds -> text} map, sliding-window chunk
    * (W1: n=35 overlap 6 by default), embed each chunk (L2), append to
    * the vector index table (K5), flip the flag (K7).
    */
  def vectorize(n: Int = 35, overlap: Int = 6): DataFrame = {
    val todo = store.read("council_transcripts")
      .filter(col("vectorized") === 0)
    val snippets = todo.select(col("video_url"), col("date"),
      explode(col("transcript")).as(Seq("ts", "text")))
    val chunks = Chunker.slidingChunks(snippets, "video_url",
      Seq("ts"), "text", n, overlap)
      .withColumnRenamed("text", "chunk_text")
    // RDD snapshot ([[graft.sources.TableStore.snapshot]]): survives
    // the flag-flip rewrite below without re-reading replaced parquet,
    // and — unlike the localCheckpoint this replaced — stays
    // recomputable from the pre-rewrite files if an executor dies
    // mid-pipeline. The append runs first so its job fills the cache
    // while those files are still live. The returned frame is the
    // caller's release handle.
    val vectors = TableStore.snapshot(chunks.select(
      md5(concat(col("video_url"), lit("#"), col("chunk_id"))).as("id"),
      col("video_url"), col("chunk_id"), col("n_items"), col("chunk_text"),
      Enrichment.hashEmbedding(col("chunk_text"), embedDim).as("vector")))
    store.append("transcript_vectors", vectors)
    store.updateFlag("council_transcripts", todo.select("video_url"),
      Seq("video_url"), "vectorized", 1)
    vectors
  }

  /** transcript_summaries.py:259-288 + 174-253: for each non-summarized
    * meeting, retrieve top-k chunks by cosine to the meeting's own query
    * embedding (J8/A5, k=23 in the reference), "summarize" (L4 stub),
    * extract topics (L5 stub), append + flag-flip. A summary containing
    * the `[NONE]` sentinel ("no relevant info found",
    * transcript_summaries.py:285-288) flips the summarized flag WITHOUT
    * appending a row — and skips the source-link rewrite, which the
    * reference only applies to kept summaries.
    */
  def summarize(k: Int = 23): DataFrame = {
    import graft.functions.VectorFunctions
    val todo = store.read("council_transcripts")
      .filter(col("summarized") === 0 && col("vectorized") === 1)
      .select(col("video_url"), col("title"),
        Enrichment.hashEmbedding(col("title"), embedDim).as("qv"))
    val vectors = store.read("transcript_vectors")
    val scored = vectors.join(broadcast(todo), Seq("video_url"))
      .withColumn("sim", VectorFunctions.cosine(col("qv"), col("vector")))
      .filter(col("sim").isNotNull)
    val topk = TopK.perGroup(scored, Seq(col("video_url")),
      Seq(col("sim").desc, col("chunk_id")), k)
    // two RDD snapshots ([[graft.sources.TableStore.snapshot]]),
    // replacing the old localCheckpoint barrier: `produced` (every
    // processed meeting, sentinels included — the flag-flip key set) is
    // scoped to this call; `summaries` (the kept rows) goes back to the
    // caller as its own release handle. The append runs first so both
    // caches fill while the pre-rewrite table files are still live.
    val produced = TableStore.snapshot(topk.groupBy(col("video_url"))
      .agg(concat_ws(" ", array_sort(collect_list(
        struct(col("rk"), col("chunk_text"))).getField("chunk_text")))
        .as("context"))
      .select(col("video_url"),
        Enrichment.keywordSummary(col("context"), 40).as("__raw"),
        Enrichment.topics(col("context"), 5).as("topics")))
    try {
      val summaries = TableStore.snapshot(produced
        .filter(!col("__raw").contains("[NONE]"))
        .select(col("video_url"),
          // F17: the reference rewrites [[N]](url&t=Ss) source links in
          // the LLM summary to [[H:MM:SS]](url) before storing
          graft.functions.TextFunctions.rewriteSourceLinks(col("__raw"))
            .as("summary"),
          col("topics")))
      store.append("transcript_summaries", summaries)
      // the flag flips for EVERY processed meeting, sentinel ones included
      store.updateFlag("council_transcripts",
        produced.select("video_url"), Seq("video_url"), "summarized", 1)
      summaries
    } finally produced.unpersist(blocking = false)
  }

  /** Consistency pass between the `vectorized` flag and the vector
    * table (transcripts_to_vector_db.py:317-381: the reference re-queues
    * transcripts whose DB flag and vector-store state disagree, probing
    * the vector store itself when the DB path fails): any transcript
    * flagged vectorized=1 with NO chunks in `transcript_vectors` gets
    * its flag reset to 0, so the next [[vectorize]] run repairs it.
    * Returns the re-queued keys. One anti-join on the url — both sides
    * of the reference's DB-vs-store disagreement live in the table
    * store here, so the probe fallback is the same set algebra.
    */
  def reconcile(): DataFrame = {
    val flagged = store.read("council_transcripts")
      .filter(col("vectorized") === 1).select(col("video_url"))
    // RDD snapshot ([[graft.sources.TableStore.snapshot]]): survives
    // the flag rewrite below, recomputable from pre-rewrite files on
    // executor loss; the returned key frame is the caller's release
    // handle
    val orphans = TableStore.snapshot(
      if (!store.exists("transcript_vectors")) flagged
      else Upsert.antiDelete(flagged,
        store.read("transcript_vectors"), Seq("video_url")))
    if (!orphans.isEmpty)
      store.updateFlag("council_transcripts", orphans,
        Seq("video_url"), "vectorized", 0)
    orphans
  }

  /** Incremental guard for the scraper side (J7): urls not yet in the
    * table.
    */
  def newUrls(candidate: DataFrame): DataFrame =
    if (!store.exists("council_transcripts")) candidate
    else Upsert.antiDelete(candidate,
      store.read("council_transcripts"), Seq("video_url"))
}
