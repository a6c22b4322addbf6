package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** PMI collocation extraction — the classic corpus lexical statistic
  * (Church & Hanks 1990, "Word association norms, mutual information,
  * and lexicography"): score adjacent token pairs by pointwise mutual
  * information `ln( p(w1,w2) / (p(w1)·p(w2)) )` and return the top-k —
  * multiword-expression mining, tokenizer-merge candidates, domain
  * phrase inventories. North-star operator: the reference computes no
  * corpus statistics.
  *
  * Determinism (the q72/q92 quantized-ln kit): counts are exact longs,
  * totals are bounded driver scalars, the probability ratio is a
  * mirrored-order IEEE double chain (×/÷ only — no additive term, so
  * no FMA-contraction hazard), and the score is ⌊10⁶·ln(ratio)⌋ with
  * the floor-boundary margin audited on every gate fixture (≥ 1.0e-04
  * at sf0.01/sf0.1 vs ~1e-10 cross-engine ln drift); `minQuantMargin`
  * adds the runtime guard. Ties in the quantized score break by
  * (w1, w2).
  *
  * Scale shape: ONE tokenize pass each for the unigram and bigram
  * count tables (map-side-combined, vocabulary-sized exchanges — never
  * corpus-sized); both tables PERSIST (vocab-sized pins, released via
  * [[releaseIntermediates]]) because each feeds its total-scalar
  * aggregate and the scoring join; the two totals are bounded driver
  * collects (single longs, the Bm25 precedent); `minCount` prunes the
  * bigram tail BEFORE the two unigram joins (AQE broadcasts the
  * pruned side when small, SMJ at vocabulary scale — correct either
  * way); the final top-k is a TakeOrderedAndProject, rank stamped on
  * the ≤ k survivors only.
  */
object Collocations {

  /** Quantization scale: scores are ⌊10⁶·ln(ratio)⌋ longs. */
  val PmiScale: Long = 1000000L

  private val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private def track(df: DataFrame): DataFrame = synchronized {
    pinned += df; df
  }
  // one-line enrollment in the engine-wide release point
  graft.Engine.register("Collocations")(() => releaseIntermediates())

  /** Unpersist the vocab-sized count tables pinned by [[topPmi]].
    * Returned frames stay valid — re-evaluation recomputes from source.
    */
  def releaseIntermediates(): Unit = synchronized {
    pinned.foreach(_.unpersist(blocking = false))
    pinned.clear()
  }

  /** Top-k adjacent-pair collocations by quantized PMI.
    * Rows with NULL or normalization-empty text carry no tokens and
    * are omitted. Returns (w1, w2, c12, c1, c2, pmi_q, rk) ordered by
    * (pmi_q desc, w1, w2).
    */
  def topPmi(df: DataFrame, textCol: String, k: Int, minCount: Long = 5,
             minQuantMargin: Option[Double] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val base = df
      .filter(col(textCol).isNotNull &&
        length(TextFunctions.normalizeText(col(textCol))) > 0)
      .select(TextFunctions.tokens(col(textCol)).as("__toks"),
        TextFunctions.shingles(col(textCol), 2).as("__bg"))
    val uni = track(base
      .select(explode(col("__toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist())
    // shingles(2) emits one truncated 1-token window for docs shorter
    // than the bigram — drop those (they are unigrams, not pairs)
    val bgAll = track(base
      .select(explode(col("__bg")).as("__g"))
      .filter(col("__g").contains(" "))
      .select(split(col("__g"), " ").getItem(0).as("w1"),
        split(col("__g"), " ").getItem(1).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .persist())
    // bounded driver scalars (one long each; materializes the pins)
    val n1 = uni.agg(sum(col("c"))).head().getLong(0)
    val n12 = bgAll.agg(sum(col("c12"))).head().getLong(0)
    require(n12 > 0, "corpus has no adjacent token pairs")
    val joined = bgAll.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
    // mirrored-order ratio: (c12/N12) / ((c1/N1) * (c2/N1)) — the SQL
    // oracle replays this exact association; totals as exact doubles
    // (< 2^53 at every gate SF; at larger corpora the ratio is still
    // deterministic, just correctly-rounded at each step)
    val ratio = (col("c12").cast("double") / lit(n12.toDouble)) /
      ((col("c1").cast("double") / lit(n1.toDouble)) *
        (col("c2").cast("double") / lit(n1.toDouble)))
    val raw = lit(PmiScale.toDouble) * log(ratio)
    minQuantMargin.foreach { threshold =>
      val frac = raw - floor(raw)
      val row = joined.select(min(least(frac, lit(1.0) - frac)).as("m"))
        .head()
      // empty audited relation (nothing survives minCount): min() is
      // NULL and there is nothing whose quantization could flip —
      // skip rather than NPE on getDouble
      if (!row.isNullAt(0)) {
        val m = row.getDouble(0)
        if (m < threshold) throw new IllegalStateException(
          f"topPmi quantization margin $m%.3e below threshold " +
            f"$threshold%.3e — re-audit the fixture")
      }
    }
    val scored = joined.withColumn("pmi_q", floor(raw).cast("long"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("pmi_q"))
    val top = scored
      .orderBy(col("pmi_q").desc, col("w1"), col("w2")).limit(k)
    TopK.perGroup(top, Seq.empty,
      Seq(col("pmi_q").desc, col("w1"), col("w2")), k)
      .withColumn("rk", col("rk").cast("long"))
  }
}
