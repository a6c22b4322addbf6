package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, built from
  * codegen'd Spark built-ins (`zip_with`, `aggregate`, `transform`) — no
  * UDFs, so the whole similarity pipeline stays inside WholeStageCodegen.
  *
  * Re-expresses the reference's Pinecone cosine retrieval
  * (transcripts_to_vector_db.py:280-313, SURVEY.md §1.1 "Vector index")
  * as column algebra. All accumulation in DOUBLE with a deterministic
  * left-to-right fold, so results are reproducible across partitionings
  * and match a same-order oracle bit-for-bit.
  */
object VectorFunctions {

  /** Left-to-right double-precision sum of an array column. */
  def arraySumD(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double"))

  def dot(a: Column, b: Column): Column =
    arraySumD(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def norm2(a: Column): Column =
    sqrt(arraySumD(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Cosine similarity; null-safe on zero vectors (returns null).
    * Delegates to the native [[graft.plans.CosineSimExpr]] (requires
    * [[graft.plans.GraftExtensions]] on the session) — bit-equal to
    * [[cosineHof]], ~50× faster (tight loop vs interpreted lambdas).
    */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Composed-builtin cosine (fold over zip_with): the reference
    * implementation the native expression is validated against.
    */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b); val na = norm2(a); val nb = norm2(b)
    when(na === 0.0 || nb === 0.0, lit(null)).otherwise(d / (na * nb))
  }

  /** Squared euclidean distance. */
  def l2Sq(a: Column, b: Column): Column =
    arraySumD(zip_with(a, b,
      (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))))

  /** L2-normalize a vector (double array out). Note: `transform` is an
    * interpreted higher-order function, so the embedded norm is
    * re-evaluated per ELEMENT (O(d²) per row) — in hot paths compute
    * [[norm2]] in its own projection and divide by that column inside
    * the `transform` (the hoisting pattern of [[i8Quantize]]'s scale).
    */
  def normalize(a: Column): Column = {
    val n = norm2(a)
    transform(a, x => x.cast("double") / n)
  }

  // ------------------------------------------------- int8 quantization

  /** Symmetric int8 quantization scale: max|x| / 127 (0 for the zero
    * vector). max is order-independent, so the fold is engine-portable
    * bit-for-bit.
    */
  def i8Scale(a: Column): Column =
    aggregate(a, lit(0.0),
      (m, x) => greatest(m, abs(x.cast("double")))) / lit(127.0)

  /** int8-quantize against a scale column: floor(x/scale + 0.5) —
    * explicit floor instead of round() because engines disagree on
    * round-half semantics; |q| <= 127 by construction, so the tinyint
    * cast never overflows. Zero-scale (zero vector) quantizes to zeros.
    * Callers should compute [[i8Scale]] in its OWN projection (the
    * scale is referenced per element — see RepetitionRules for the same
    * HOF-hoisting pattern).
    */
  def i8Quantize(a: Column, scale: Column): Column =
    when(scale === lit(0.0),
        transform(a, _ => lit(0).cast("tinyint")))
      .otherwise(transform(a,
        x => floor(x.cast("double") / scale + lit(0.5)).cast("tinyint")))

  /** Exact integer dot product of two int8 vectors (long; null on
    * length mismatch). Native [[graft.plans.IntDotExpr]] — the scoring
    * kernel for quantized maximum-inner-product search.
    */
  def intDot(a: Column, b: Column): Column =
    call_function("graft_int_dot", a, b)
}
