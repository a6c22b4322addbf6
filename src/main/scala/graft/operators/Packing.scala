package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic concat-and-chunk sequence packing — the standard
  * LLM-pretraining batching transform: documents are concatenated in a
  * fixed order and the token stream is cut into fixed-capacity context
  * blocks, so no padding is ever emitted and a document may span a
  * block boundary (GPT-style packing; see Brown et al. 2020 §2.3 /
  * the T5 "pack" preprocessing). Output is the PLACEMENT map — for
  * every (document, block) intersection: which slice of the document
  * (`doc_off`, `len`) lands at which offset of which block
  * (`block_id`, `block_off`) — which is exactly what a training reader
  * needs to assemble blocks, and what a provenance audit needs to map
  * a trained-on block back to source documents. North-star operator —
  * the reference has no training-batch assembly.
  *
  * Invariants (spec-gated): every block except each shard's last sums
  * to exactly `capacity`; per-document slices are contiguous, start at
  * `doc_off = 0`, and sum to the document's token count; placements
  * are reproducible across runs, partitionings, and engines (the
  * order within a shard is (idCol) — content-addressed when idCol is
  * a hash or the caller pre-buckets with [[Sampling.hashBucket]]).
  *
  * Scale design: packing is a PREFIX-SUM, not a fold — one
  * shard-partitioned window computes each document's [begin, end)
  * token span in the shard's virtual concatenation, and the
  * block-intersection arithmetic is a narrow codegen'd projection +
  * a ≤ ceil(n/C)+1-wide explode per document. ONE exchange total (the
  * shard window); nothing global. Shards (from
  * [[Sampling.assignShardsStratified]] or `hashBucket mod n`) bound
  * the window partition, so a 100 TB corpus packs with per-shard
  * parallelism and no single-task funnel; cross-shard block ids never
  * collide because `block_id` is per-shard. Token spans are exact
  * longs end to end (`div`, never float division), so per-shard token
  * totals past 2^53 — reachable at 100 TB — cannot drift the cut
  * points.
  */
object Packing {

  /** Pack `df` rows (one per document, `nTokCol` = its token count)
    * into fixed-`capacity` blocks per `shardCol`, concatenating in
    * ascending `idCol` order within the shard. Rows with
    * `nTokCol <= 0` or NULL are dropped (nothing to pack — they'd
    * produce zero-length slices). Returns
    * (shardCol, block_id, idCol, doc_off, block_off, len), unordered.
    *
    * `capacity` is the context length in tokens. A single document
    * spans ceil(n/capacity)+1 blocks at most; the explode materializes
    * that many rows, so capacity must not be absurdly small relative
    * to the largest document (a 2^31-slice single document would
    * overflow Spark's array limit — compose with [[Chunker]] first if
    * documents can dwarf the context window by 10^9×).
    */
  def packConcat(df: DataFrame, idCol: String, nTokCol: String,
                 shardCol: String, capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
    df.filter(col(nTokCol) > 0)
      .withColumn("__e", sum(col(nTokCol).cast("long")).over(w))
      .withColumn("__b", col("__e") - col(nTokCol))
      // blocks this document's [__b, __e) span intersects
      .withColumn("block_id",
        explode(sequence(expr(s"__b div $capacity"),
          expr(s"(__e - 1) div $capacity"))))
      .withColumn("__start", greatest(col("__b"),
        col("block_id") * capacity))
      .withColumn("__stop", least(col("__e"),
        (col("block_id") + 1) * capacity))
      .select(col(shardCol), col("block_id"), col(idCol),
        (col("__start") - col("__b")).as("doc_off"),
        (col("__start") - col("block_id") * capacity).as("block_off"),
        (col("__stop") - col("__start")).as("len"))
  }
}
