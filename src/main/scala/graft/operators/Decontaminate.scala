package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Benchmark decontamination — flag training documents whose word
  * n-grams overlap an evaluation set (the standard pretraining hygiene
  * pass, e.g. GPT-3 §C / PaLM §7-style 13-gram overlap; north-star
  * operator — the reference has no corpus hygiene).
  *
  * Scale design: the benchmark side is eval sets — tiny versus the
  * corpus by construction — so its distinct shingle union BROADCASTS
  * and the corpus side never shuffles on the shingle: a narrow shingle
  * explode, a broadcast left join, and ONE doc-keyed aggregation
  * exchange. No corpus self-join; nothing quadratic. At 100 TB the
  * only corpus-wide movement is the (id, hit-count) aggregate.
  */
object Decontaminate {

  /** Per-corpus-document overlap against the benchmark's shingle union:
    * (idCol, n_shingles, n_contaminated, contamination_frac, flagged)
    * where `contamination_frac` is the fraction of the doc's DISTINCT
    * n-gram shingles present in any benchmark document and `flagged` is
    * 1 when the fraction reaches `flagFrac`. Documents with zero
    * shingles (no tokens) carry no contamination evidence and are
    * omitted — gate them with [[graft.functions.QualityRules]] instead.
    */
  def overlap(corpus: DataFrame, bench: DataFrame, idCol: String,
              textCol: String, shingleN: Int,
              flagFrac: Double): DataFrame = {
    val benchSh = bench
      .select(explode(array_distinct(
        TextFunctions.shingles(col(textCol), shingleN))).as("sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    // repartition: shingling is the CPU-heavy narrow stage (same
    // rationale as Dedup); the join stays broadcast so the corpus is
    // never redistributed by shingle
    val corpSh = corpus.repartition(graft.Par.n, col(idCol))
      .select(col(idCol), explode(array_distinct(
        TextFunctions.shingles(col(textCol), shingleN))).as("sh"))
    corpSh.join(broadcast(benchSh), Seq("sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated"))
      .withColumn("contamination_frac",
        col("n_contaminated").cast("double") /
          col("n_shingles").cast("double"))
      .withColumn("flagged",
        (col("contamination_frac") >= flagFrac).cast("long"))
  }

  /** Embedding-space decontamination — the semantic sibling of
    * [[overlap]]: flag corpus documents whose embedding is
    * cosine-similar (≥ `threshold`) to ANY benchmark embedding,
    * catching paraphrased/translated contamination that exact n-gram
    * overlap misses. Output: (idCol, n_hits, max_sim) — flagged docs
    * only; unflagged docs carry no evidence and are absent.
    *
    * Scale design: bench = eval sets, tiny by construction, so it
    * BROADCASTS into a nested-loop join; the corpus scans ONCE, every
    * cosine evaluates exactly once per pair ([[graft.plans.PlanShape
    * .filterOnce]] — no pushed-down duplicate), and the flags collapse
    * through ONE doc-keyed aggregation exchange. n·|bench| cosines
    * total — exhaustive and oracle-checkable, the q22 role; for a
    * benchmark beyond ~10⁴ rows prune with the banded plane-signature
    * LSH first ([[Similarity]]'s q38 role) and verify only
    * bucket-mates.
    */
  def semanticOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
                      vecCol: String, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions
    val b = bench.select(col(vecCol).as("__bv"))
    graft.plans.PlanShape.filterOnce(
        corpus.select(col(idCol), col(vecCol).as("__cv"))
          .crossJoin(broadcast(b)),
        "__sim", VectorFunctions.cosine(col("__cv"), col("__bv")),
        _ >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), max(col("__sim")).as("max_sim"))
  }
}
