package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** In-engine trainable text classifier: hashed bag-of-words features +
  * a linear model fit by full-batch gradient descent — the fastText-
  * style "cheap proxy scorer" every curation pipeline distills its
  * expensive labeler into (LLM judgments, rule cascades, human labels)
  * so the whole corpus can be scored at scan speed.
  *
  * Cross-engine exactness (the repo's oracle discipline): training is
  * ALL integer arithmetic — weights are fixed-point longs scaled by
  * 2^20, the nonlinearity is the hard sigmoid `clamp(1/2 + z/4, 0, 1)`
  * (the piecewise-linear logistic surrogate; σ'(0) = 1/4 matches), and
  * every division is truncation-toward-zero, which Spark's `div` and
  * DuckDB's `//` agree on. Zero transcendentals ⇒ no quantized-ln
  * margin kit needed: a SQL replay reproduces every weight, score and
  * prediction BIT-EXACTLY, iteration by iteration (q122).
  *
  * Step schedule: η_t = 2^-(t+1) — the standard diminishing schedule
  * for (sub)gradient descent; a constant step oscillates on this
  * objective (measured in the round-10 prototype: 64% → 78% → bounce),
  * the halving schedule converges monotonically after the first
  * overshoot.
  *
  * Scale shape (the 100 TB story):
  *   - Features are built with ONE corpus exchange: `repartition(id)`
  *     BEFORE the (id, bucket) count — HashPartitioning(id) already
  *     satisfies the grouped distribution (id ⊆ keys), so the count
  *     aggregates exchange-free and the frame stays id-partitioned for
  *     the whole training loop (persisted, scanned 2× per iteration).
  *   - Per iteration: weights (dim rows) broadcast into the score
  *     join; the per-doc score aggregate and the err⋈feats join are
  *     both exchange-free on the id partitioning; the gradient is ONE
  *     dim-bounded exchange (map-side partials ⇒ ≤ dim rows per
  *     partition) collected to the driver — the classic distributed-LR
  *     treeAggregate shape, corpus never re-shuffled.
  *   - Gradient cells accumulate in decimal(38,0) (exact at any corpus
  *     size — a long overflows around 10^10 docs × max err × count);
  *     the driver update divides in BigInteger, also exact.
  *   - dim bounds driver memory and broadcast size (2^18 longs = 2 MiB
  *     default), independent of corpus size.
  */
object Classifier {

  // [[trainAndScore]] pins its feature frame across the training loop;
  // same owned-release registry pattern as [[Dedup]]. Round 14: the
  // pin is a [[Loops.truncate]] checkpoint (release closures, not
  // Dataset.unpersist) — a released score plan no longer recomputes,
  // consume it before releasing.
  private val pinnedReleases =
    scala.collection.mutable.ListBuffer.empty[() => Unit]
  graft.Engine.register("Classifier")(() => releaseIntermediates())

  /** Release every feature frame pinned so far. */
  def releaseIntermediates(): Unit = synchronized {
    pinnedReleases.foreach(f => f())
    pinnedReleases.clear()
  }

  /** @param dim        hashed feature space (weight vector length)
    * @param iters      full-batch GD steps
    * @param scaleShift fixed-point scale: weights/scores carry 2^scaleShift
    * @param salt       feature-hash salt ([[Sampling.hashBucket]] convention)
    */
  final case class Config(dim: Int = 1 << 18, iters: Int = 6,
                          scaleShift: Int = 20, salt: String = "clf") {
    require(dim > 0 && iters >= 1 && scaleShift >= 1 && scaleShift <= 40)
    val scale: Long = 1L << scaleShift
  }

  /** Hashed bag-of-words features: one row per (id, bucket) with the
    * token count, plus the label carried alongside. md5-bucket hashing
    * ([[Sampling.hashBucket]] mod dim) so any engine replays the
    * feature map. One exchange (the id repartition); the count
    * aggregate and everything downstream reuse that partitioning.
    * Callers persist the result (it is scanned 2× per training
    * iteration).
    */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     label: Column, cfg: Config = Config()): DataFrame =
    docs
      // EXPLICIT partition count (cluster-adaptive, not a constant):
      // the expensive per-row work (tokenize + md5 per token) runs
      // AFTER this exchange, whose input bytes are tiny — a bare
      // repartition(col) lets AQE coalesce it to one partition by
      // byte-size and serialize the whole feature build into a single
      // task (measured 27 s for a 2.4 s build at sf0.1). A
      // user-specified count is exempt from AQE coalescing.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      // label BELOW the explode, in its own projection: the analyzer
      // puts every non-generator expression of an explode-select in
      // the Project ABOVE the Generate, so a per-DOC label (here ~7
      // tokenize/normalize passes over the text) would re-evaluate per
      // TOKEN row — and the label's array HOFs block codegen (and with
      // it subexpression elimination) for that whole projection
      // (measured 3.5 s vs 0.7 s for this build at sf0.1). A Generate
      // between two Projects keeps the label per-doc.
      .select(col(idCol).as("id"), label.cast("long").as("y"),
        col(textCol))
      .select(col("id"), col("y"),
        explode(filter(TextFunctions.tokens(col(textCol)),
          t => length(t) > 0)).as("w"))
      .groupBy(col("id"), col("y"),
        (Sampling.hashBucket(col("w"), cfg.salt) % cfg.dim).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Hard sigmoid over a fixed-point score: clamp(S/2 + z/4, 0, S),
    * z/4 as truncation-toward-zero via sign-split shifts (exact, and
    * equal to SQL `z // 4` under DuckDB's truncating `//`).
    */
  private def hardSigmoid(z: Column, scale: Long): Column = {
    val q = when(z >= 0, shiftright(z, 2))
      .otherwise(-shiftright(-z, 2))
    greatest(lit(0L), least(lit(scale), lit(scale / 2) + q))
  }

  /** Truncation-toward-zero BigInteger division (driver twin of the
    * engine-side rule).
    */
  private def tdiv(a: BigInt, b: BigInt): BigInt =
    a.abs / b * (if (a.signum < 0) -1 else 1)

  /** Train the hard-sigmoid linear model by full-batch GD over
    * [[hashedFeatures]] output. Returns (weights, bias), both
    * fixed-point at 2^scaleShift — dim-bounded driver state, like
    * k-means centroids. One action per iteration.
    */
  def train(feats: DataFrame, cfg: Config = Config()): (Array[Long], Long) = {
    val weights = Array.fill(cfg.dim)(0L)
    var bias = 0L
    // n (distinct doc count) rides the FIRST gradient's bias cell —
    // the bias union contributes exactly one term per doc, so its
    // count equals the old feats.select(id).distinct().count() without
    // spending a separate job on it
    var n = 0L
    for (it <- 0 until cfg.iters) {
      val (grad, nBias) = gradient(feats, weights, bias, cfg)
      if (it == 0) { n = nBias; require(n > 0, "empty corpus") }
      val den = BigInt(n) << (it + 1)
      grad.foreach { case (b, g) =>
        if (b >= 0) weights(b.toInt) =
          (BigInt(weights(b.toInt)) - tdiv(g, den)).toLong
        else bias = (BigInt(bias) - tdiv(g, den)).toLong
      }
    }
    (weights, bias)
  }

  /** One full-batch gradient: Σ_docs err·cnt per bucket (+ the bias
    * cell as bucket −1). err = hardSigmoid(z) − y·S. Exchange-free up
    * to the final dim-bounded aggregate; cells accumulate in
    * decimal(38,0). Also returns the bias cell's term COUNT — exactly
    * one bias term per doc, so this is the distinct-doc n the step
    * schedule divides by (saves the separate count job).
    */
  private def gradient(feats: DataFrame, weights: Array[Long], bias: Long,
                       cfg: Config): (Array[(Long, BigInt)], Long) = {
    val errDf = perDocErr(feats, weights, bias, cfg)
    // SHUFFLE_HASH, not the default sort-merge: both sides are already
    // id-partitioned (zero exchange either way), but SMJ re-SORTS the
    // full feature frame every iteration; hashing the per-doc err side
    // (one row per doc — always the smaller side) streams feats as-is
    val terms = feats.join(errDf.hint("shuffle_hash"), Seq("id"))
      .select(col("bucket"), (col("err") * col("cnt"))
        .cast("decimal(38,0)").as("term"))
      .union(errDf.select(lit(-1L).as("bucket"),
        col("err").cast("decimal(38,0)").as("term")))
    val rows = terms.groupBy(col("bucket"))
      .agg(sum(col("term")).as("g"), count(lit(1)).as("c"))
      .collect()
    val grad = rows.map(r => (r.getLong(0),
      BigInt(r.getDecimal(1).toBigInteger)))
    val nBias = rows.collectFirst {
      case r if r.getLong(0) == -1L => r.getLong(2)
    }.getOrElse(0L)
    (grad, nBias)
  }

  /** Per-doc fixed-point err (and score): weights broadcast into the
    * feats join (O(1) hash probe per feature row — a literal-map
    * lookup was MEASURED SLOWER in round 15: Catalyst folds
    * element_at(map(...)) into a linear CaseWhen chain, O(|weights|)
    * per row, +3 s on q122 at dim 256); per-doc sum exchange-free on
    * the id partitioning.
    */
  private def perDocErr(feats: DataFrame, weights: Array[Long], bias: Long,
                        cfg: Config): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val wdf = weights.zipWithIndex
      .collect { case (w, b) if w != 0L => (b.toLong, w) }
      .toSeq.toDF("bucket", "w")
    val z = feats.join(broadcast(wdf), Seq("bucket"), "left")
      .groupBy(col("id"))
      .agg(max(col("y")).as("y"),
        (lit(bias) +
          sum(coalesce(col("w"), lit(0L)) * col("cnt"))).as("z"))
    z.select(col("id"), col("y"), col("z"),
      (hardSigmoid(col("z"), cfg.scale) - col("y") * cfg.scale).as("err"))
  }

  /** Score every doc with a trained model: (id, y, z, p, pred), all
    * exact fixed-point longs. Same broadcast-join shape as training.
    */
  def score(feats: DataFrame, weights: Array[Long], bias: Long,
            cfg: Config = Config()): DataFrame =
    perDocErr(feats, weights, bias, cfg)
      .select(col("id"), col("y"), col("z"),
        hardSigmoid(col("z"), cfg.scale).as("p"))
      .withColumn("pred", (col("p") * 2 > cfg.scale).cast("long"))

  /** Train-then-score in one call — the q122 surface. Builds and
    * PINS the feature frame (it feeds every GD round and the final
    * scoring); the pin is registered with the engine release point and
    * freed by [[releaseIntermediates]]/`Engine.releaseAll`, NOT per
    * call — repeated calls in a long-lived session should release
    * between them.
    */
  def trainAndScore(docs: DataFrame, idCol: String, textCol: String,
                    label: Column, cfg: Config = Config()): DataFrame = {
    // checkpoint, not persist: the frame is scanned 2× per iteration +
    // once for scoring, so (a) the tiny LogicalRDD plan saves Catalyst
    // re-analysis of the tokenize/hash lineage on every one of those
    // plans, and (b) the id HashPartitioning survives, keeping every
    // per-iteration aggregate and join exchange-free
    val feats = synchronized {
      val (f, rel) = Loops.truncate(
        hashedFeatures(docs, idCol, textCol, label, cfg))
      pinnedReleases += rel; f
    }
    val (w, b) = train(feats, cfg)
    score(feats, w, b, cfg)
  }
}
