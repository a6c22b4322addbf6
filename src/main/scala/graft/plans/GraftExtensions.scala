package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's native expressions and its adaptive-execution
  * rule with a SparkSession via the public `SparkSessionExtensions`
  * mechanism — usable both as
  * `spark.sql.extensions=graft.plans.GraftExtensions` and through
  * `SparkSession.builder().withExtensions(...)`. Callers reach the
  * expressions with `functions.call_function("graft_cosine", ...)`
  * (keeps the engine on public API only). The rule, [[SmallSort]], runs
  * when adaptive execution re-optimizes a query: a global sort whose
  * measured input is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * sorts in one partition, with no range exchange and no sampling job.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.install(ext)
}

object GraftExtensions {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"), info("graft_cosine"),
      (c: Seq[Expression]) => CosineSimExpr(c(0), c(1))),
    (FunctionIdentifier("graft_minhash"), info("graft_minhash"),
      (c: Seq[Expression]) => MinHashSigExpr(c(0), c(1))),
    (FunctionIdentifier("graft_simhash"), info("graft_simhash"),
      (c: Seq[Expression]) => SimHash64Expr(c(0))),
    (FunctionIdentifier("graft_simhash_md5"), info("graft_simhash_md5"),
      (c: Seq[Expression]) => SimHashMd5Expr(c(0))),
    (FunctionIdentifier("graft_rolling_hash"), info("graft_rolling_hash"),
      (c: Seq[Expression]) => RollingHashExpr(c(0))),
    (FunctionIdentifier("graft_splitmix64"), info("graft_splitmix64"),
      (c: Seq[Expression]) => SplitMix64Expr(c(0), c(1))),
    (FunctionIdentifier("graft_md5_prefix"), info("graft_md5_prefix"),
      (c: Seq[Expression]) => Md5PrefixExpr(c(0), c(1))),
    (FunctionIdentifier("graft_canonical_url"), info("graft_canonical_url"),
      (c: Seq[Expression]) => CanonicalUrlExpr(c(0))),
    (FunctionIdentifier("graft_nfc"), info("graft_nfc"),
      (c: Seq[Expression]) => NfcNormalizeExpr(c(0))),
    (FunctionIdentifier("graft_hash_embedding"), info("graft_hash_embedding"),
      (c: Seq[Expression]) => HashEmbeddingExpr(c(0), c(1))),
    (FunctionIdentifier("graft_norm_tokens"), info("graft_norm_tokens"),
      (c: Seq[Expression]) => NormTokensExpr(c(0))),
    (FunctionIdentifier("graft_shingles"), info("graft_shingles"),
      (c: Seq[Expression]) => ShinglesExpr(c(0), c(1))),
    (FunctionIdentifier("graft_pip"), info("graft_pip"),
      (c: Seq[Expression]) => PointInPolygonExpr(c(0), c(1), c(2))),
    (FunctionIdentifier("graft_poly_bbox"), info("graft_poly_bbox"),
      (c: Seq[Expression]) => PolyBboxExpr(c(0))),
    (FunctionIdentifier("graft_plane_sig"), info("graft_plane_sig"),
      (c: Seq[Expression]) => PlaneSignatureExpr(c(0), c(1))),
    (FunctionIdentifier("graft_int_dot"), info("graft_int_dot"),
      (c: Seq[Expression]) => IntDotExpr(c(0), c(1))),
    (FunctionIdentifier("graft_marker_hits"), info("graft_marker_hits"),
      (c: Seq[Expression]) => MarkerHitsExpr(c(0), c(1))),
    (FunctionIdentifier("graft_alpha_words"), info("graft_alpha_words"),
      (c: Seq[Expression]) => AlphaWordsExpr(c(0))),
    (FunctionIdentifier("graft_bpe_segment"), info("graft_bpe_segment"),
      (c: Seq[Expression]) => BpeSegmentExpr(c(0), c(1))),
    (FunctionIdentifier("graft_ac_match"), info("graft_ac_match"),
      (c: Seq[Expression]) => AcMatchExpr(c(0), c(1))),
    (FunctionIdentifier("graft_ac_spans"), info("graft_ac_spans"),
      (c: Seq[Expression]) => AcSpansExpr(c(0), c(1))),
    (FunctionIdentifier("graft_ac_redact"), info("graft_ac_redact"),
      (c: Seq[Expression]) => AcRedactExpr(c(0), c(1), c(2))),
    (FunctionIdentifier("graft_script_mix"), info("graft_script_mix"),
      (c: Seq[Expression]) => ScriptMixExpr(c(0))),
    (FunctionIdentifier("graft_unigram_score"), info("graft_unigram_score"),
      (c: Seq[Expression]) => UnigramScoreExpr(c(0), c(1))),
    (FunctionIdentifier("graft_mg"), info("graft_mg"),
      (c: Seq[Expression]) => MisraGriesAgg.fromArgs(c)),
    // Spark's own runtime-bloom-join machinery, surfaced as callable
    // functions (upstream registers them internal-only): build a
    // mergeable bloom over xxhash64 keys / probe it. Used by
    // graft.operators.Dedup.newAgainstCorpus.
    (FunctionIdentifier("graft_bloom_agg"), info("graft_bloom_agg"),
      (c: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(c(0), c(1))),
    (FunctionIdentifier("graft_bloom_contains"), info("graft_bloom_contains"),
      (c: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(c(0), c(1))))

  def install(ext: SparkSessionExtensions): Unit = {
    functions.foreach(ext.injectFunction)
    ext.injectRuntimeOptimizerRule(_ => SmallSort)
  }

  /** Entries of Spark's generated-class cache (default 100). One
    * benchmark pass of the three lifecycle queries generates about 92
    * distinct classes, so at the default every warm pass recompiles
    * some of them with Janino; at this size a warm pass compiles none.
    * A static conf: it takes effect only when set before the session
    * (and the first code generation) exists.
    */
  private val codegenCacheEntries = 200

  /** Attach to the builder (the engine's standard session setup). */
  def builder(b: SparkSession.Builder): SparkSession.Builder =
    b.withExtensions(install)
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toLong)
}
