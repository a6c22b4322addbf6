package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the measured hot paths (SURVEY.md §4:
  * "promote hot ones to Expression if bench demands" — the bench did:
  * the composed higher-order-function forms run interpreted per-element
  * lambda dispatch; these evaluate as tight JVM loops, ~20-100× faster).
  *
  * Every expression implements real `doGenCode` (no CodegenFallback):
  * either an inline fused loop ([[CosineSimExpr]]) or a direct call into
  * [[NativeKernels]] — one interpreted-vs-generated source of truth —
  * so a projection mixing these with builtins stays inside
  * WholeStageCodegen instead of dropping the stage to interpreted eval.
  *
  * Bit-compatibility contracts (verified by spec + DuckDB oracle):
  *  - [[CosineSimExpr]] accumulates dot/norm² per index left-to-right in
  *    double — identical values to fold(zip_with(...)) and to the
  *    oracle's list_dot_product form.
  *  - [[MinHashSigExpr]] chains xxhash64 exactly like the composed
  *    `xxhash64(elem, seedIdx)` expression (seed 42, child order).
  *  - [[SimHash64Expr]] matches the unrolled 64-bit-plane fold.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_cosine expects array<float|double>, got $t")
  }

  /** Real codegen (not CodegenFallback): the loop below fuses into the
    * enclosing WholeStageCodegen stage, so a projection mixing this
    * with builtins never drops to interpreted eval. Same accumulation
    * order as [[nullSafeEval]] — bit-equal results.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val getX =
        if (elemIsFloat(left)) s"(double) $x.getFloat($i)"
        else s"$x.getDouble($i)"
      val getY =
        if (elemIsFloat(right)) s"(double) $y.getFloat($i)"
        else s"$y.getDouble($i)"
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $getX;
         |    double $yi = $getY;
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val xf = elemIsFloat(left); val yf = elemIsFloat(right)
    // Mismatched dims: the composed zip_with form null-pads, poisoning
    // the dot fold to null — mirror that instead of silently truncating.
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** Row-at-a-time kernels shared by interpreted eval and generated code
  * (codegen emits a direct call via a reference object — the same
  * pattern as [[TextKernels]]; loop/string/digest work gains nothing
  * from inlining, staying callable keeps the stage fused).
  */
object NativeKernels extends Serializable {

  /** See [[MinHashSigExpr]]. */
  def minhash(a: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var e = 0
    while (e < a.numElements()) {
      val s = a.getUTF8String(e)
      // identical to composed xxhash64(s, i): seed 42, then chain i
      val h1 = XxHash64Function.hash(s, StringType, 42L)
      var i = 0
      while (i < k) {
        val h2 = XxHash64Function.hash(i, IntegerType, h1)
        if (h2 < mins(i)) mins(i) = h2
        i += 1
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  /** See [[SimHash64Expr]]. */
  def simhash64(a: ArrayData): Long = {
    val votes = new Array[Int](64)
    var e = 0
    while (e < a.numElements()) {
      val h = XxHash64Function.hash(a.getUTF8String(e), StringType, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      e += 1
    }
    var sig = 0L; var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  private val md5Digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** See [[SimHashMd5Expr]]. */
  def simhashMd5(a: ArrayData): Long = {
    val votes = new Array[Int](64)
    val md = md5Digest.get()
    var e = 0
    while (e < a.numElements()) {
      md.reset()
      val d = md.digest(a.getUTF8String(e).getBytes)
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      var j = 0
      while (j < 64) {
        if (((v >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      e += 1
    }
    var sig = 0L; var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** See [[Md5PrefixExpr]]: the integer value of the first `hexChars`
    * hex characters of md5(s) — bit-equal to the composed
    * `conv(substring(md5(s), 1, hexChars), 16, 10)::long` without the
    * 32-char hex string, the substring, or the two string-base
    * conversions (the composed chain measured ~2.4× the bare digest
    * on a token stream; this kit hashes every token of every corpus
    * scan in the sampling/sketch/classifier family).
    */
  def md5Prefix(s: UTF8String, hexChars: Int): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < hexChars) {
      val b = d(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }

  /** See [[RollingHashExpr]]. */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var v = 0L
    var i = 0
    while (i < bytes.length) { v = v * 31L + (bytes(i) & 0xffL); i += 1 }
    v
  }

  /** See [[SplitMix64Expr]]. Java's wrapping two's-complement ops ARE
    * the mod-2^64 arithmetic of the reference (Vigna/Steele splitmix64,
    * gamma 0x9E3779B97F4B9F19); `>>>` is the unsigned shift the C
    * reference uses; the final `>>> 4` returns the TOP 60 bits as a
    * non-negative long — the [[graft.operators.Sampling.hashBucket]]
    * 60-bit uniform convention.
    */
  def splitMix64(x: Long, b: Long): Long = {
    var z = x + (b + 1L) * 0x9E3779B97F4B9F19L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    z >>> 4
  }

  /** See [[HashEmbeddingExpr]]. */
  def hashEmbedding(s: UTF8String, dim: Int): ArrayData = {
    val h1 = XxHash64Function.hash(s, StringType, 42L)
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      val h2 = XxHash64Function.hash(i, IntegerType, h1)
      val m = h2 % 1000000L
      val pm = if (m < 0) m + 1000000L else m
      out(i) = pm.toDouble / 1000000.0 - 0.5
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[PointInPolygonExpr]]. */
  def pointInPolygon(px: Double, py: Double, ring: ArrayData,
                     nf: Int, xi: Int, yi: Int): Boolean = {
    val n = ring.numElements()
    var crossings = 0L; var i = 0
    while (i < n) {
      val a = ring.getStruct(i, nf)
      val b = ring.getStruct(if (i == n - 1) 0 else i + 1, nf)
      val ay = a.getDouble(yi); val by = b.getDouble(yi)
      if ((ay > py) != (by > py)) {
        val ax = a.getDouble(xi); val bx = b.getDouble(xi)
        val xInt = (bx - ax) * (py - ay) / (by - ay) + ax
        if (px < xInt) crossings += 1
      }
      i += 1
    }
    crossings % 2 == 1
  }

  /** See [[PolyBboxExpr]]: one-pass min/max over a struct<x,y> ring.
    * NULL ring elements and NULL x/y fields are SKIPPED per field, like
    * array_min/max over a transform (`getStruct`/`getDouble` on them
    * would NPE or read an undefined 0.0 and corrupt the bbox); returns
    * null when either axis has no contributing value — an empty or
    * degenerate ring gets a null bbox, not a garbage one.
    */
  def polyBbox(ring: ArrayData, nf: Int, xi: Int, yi: Int): InternalRow = {
    val n = ring.numElements()
    var minx = Double.PositiveInfinity; var maxx = Double.NegativeInfinity
    var miny = Double.PositiveInfinity; var maxy = Double.NegativeInfinity
    var nx = 0; var ny = 0
    var i = 0
    while (i < n) {
      if (!ring.isNullAt(i)) {
        val v = ring.getStruct(i, nf)
        if (!v.isNullAt(xi)) {
          val x = v.getDouble(xi)
          if (x < minx) minx = x
          if (x > maxx) maxx = x
          nx += 1
        }
        if (!v.isNullAt(yi)) {
          val y = v.getDouble(yi)
          if (y < miny) miny = y
          if (y > maxy) maxy = y
          ny += 1
        }
      }
      i += 1
    }
    if (nx == 0 || ny == 0) null
    else new GenericInternalRow(Array[Any](minx, maxx, miny, maxy))
  }

  /** See [[PlaneSignatureExpr]]. */
  def planeSig(x: ArrayData, planes: Array[Array[Double]],
               elemFloat: Boolean): Long = {
    val dim = x.numElements()
    var sig = 0L; var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      // HOF semantics: zip_with null-pads a length mismatch, poisoning
      // the dot to null, and `when(null > 0)` contributes bit 0.
      if (plane.length == dim) {
        var dot = 0.0; var i = 0
        while (i < dim) {
          val xi = if (elemFloat) x.getFloat(i).toDouble else x.getDouble(i)
          dot += xi * plane(i); i += 1
        }
        // Spark SQL comparison semantics, not Java's: NaN sorts above
        // every double, so `when(dot > 0, …)` in the HOF twin sets the
        // bit on a NaN dot — mirror that (Java's `NaN > 0` is false)
        if (dot > 0 || java.lang.Double.isNaN(dot)) sig += (1L << p)
      }
      p += 1
    }
    sig
  }

  /** See [[IntDotExpr]]: exact integer dot product of two int8
    * (tinyint) vectors, accumulated in long. Null on length mismatch is
    * handled by the expression (kernel assumes equal lengths).
    */
  def intDot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var dot = 0L; var i = 0
    while (i < n) {
      dot += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    dot
  }

  private val trackingParam = java.util.regex.Pattern
    .compile("^(?i)(utm_[^=]*|fbclid|gclid)(=|$)")
  // ASCII-ONLY classes, mirroring the reference regexes [A-Za-z]/[0-9]:
  // Character.isLetter/isDigit are Unicode-aware and would accept
  // schemes/ports the column form rejects
  private def asciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def asciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** See [[NfcNormalizeExpr]]: Unicode NFC normalization via the
    * JDK's `java.text.Normalizer` (Unicode-standard algorithm — any
    * conformant engine agrees byte-for-byte; DuckDB's
    * `nfc_normalize` is the q110 oracle mirror). `isNormalized` fast
    * path: real-world corpora are overwhelmingly already NFC, so the
    * common case is one scan and ZERO allocation — the input
    * UTF8String is returned as-is.
    */
  def nfcNormalize(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s,
        java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** See [[CanonicalUrlExpr]]: single-pass URL canonicalization,
    * semantics bit-equal to the composed column-algebra form in
    * `TextFunctions.canonicalUrl` (differential-spec-proven). Returns
    * null (quarantine) for anything the column form rejects.
    */
  def canonicalUrl(u: UTF8String): UTF8String = {
    val raw = u.toString
    // fragment first: nothing after '#' may reach the canonical key
    val hash = raw.indexOf('#')
    val pre = if (hash >= 0) raw.substring(0, hash) else raw
    val ss = pre.indexOf("://")
    if (ss <= 0) return null
    val scheme = pre.substring(0, ss)
    if (!asciiLetter(scheme.charAt(0))) return null
    var ci = 1
    while (ci < scheme.length) {
      val c = scheme.charAt(ci)
      if (!(asciiLetter(c) || asciiDigit(c) || c == '+' || c == '.' ||
          c == '-')) return null
      ci += 1
    }
    val schemeL = scheme.toLowerCase(java.util.Locale.ROOT)
    // authority = up to the first '/' or '?' ('#' already stripped)
    var j = ss + 3
    while (j < pre.length && pre.charAt(j) != '/' && pre.charAt(j) != '?')
      j += 1
    val authority = pre.substring(ss + 3, j)
    // userinfo strips to the FIRST '@' (the column form's
    // regexp_replace("^[^@]*@")); a second '@' is rejected like the
    // column form's host charset does
    val at = authority.indexOf('@')
    val hostport = if (at >= 0) authority.substring(at + 1) else authority
    if (hostport.indexOf('@') >= 0) return null
    var host: String = null
    var port = ""
    if (hostport.startsWith("[")) {
      val rb = hostport.indexOf(']')
      if (rb < 2) return null // needs at least one inside char
      var k = 1
      while (k < rb) {
        val c = hostport.charAt(k)
        val hex = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F') || c == ':' || c == '.'
        if (!hex) return null
        k += 1
      }
      host = hostport.substring(0, rb + 1)
      val rest = hostport.substring(rb + 1)
      if (rest.nonEmpty) {
        if (rest.length < 2 || rest.charAt(0) != ':') return null
        port = rest.substring(1)
      }
    } else {
      val c = hostport.indexOf(':')
      host = if (c < 0) hostport else hostport.substring(0, c)
      if (c >= 0) port = hostport.substring(c + 1)
      if (host.isEmpty) return null
      var k = 0
      while (k < host.length) {
        val ch = host.charAt(k)
        if (ch == '[' || ch == ']' || ch == ':') return null
        k += 1
      }
      if (c >= 0 && port.isEmpty) return null
    }
    var pk = 0
    while (pk < port.length) {
      if (!asciiDigit(port.charAt(pk))) return null
      pk += 1
    }
    // lowercase through UTF8String.toLowerCase — Spark's own lower()
    // kernel (ASCII fast path; default-locale slow path for non-ASCII),
    // so the native and column forms produce IDENTICAL keys on
    // locale-sensitive hosts
    val hostL = UTF8String.fromString(host).toLowerCase.toString
    val portKept =
      if (port.isEmpty || (schemeL == "http" && port == "80") ||
          (schemeL == "https" && port == "443")) ""
      else ":" + port
    val qm = pre.indexOf('?', j)
    val rawPath = if (qm >= 0) pre.substring(j, qm) else pre.substring(j)
    val path = if (rawPath.isEmpty) "/" else rawPath
    val query = if (qm >= 0) pre.substring(qm + 1) else ""
    // byte-wise order, matching array_sort's UTF8String comparison:
    // convert each kept param ONCE and sort on UTF8String's natural
    // (binary) order — no per-comparison conversions
    val kept = query.split("&", -1)
      .filter(p => p.nonEmpty && !trackingParam.matcher(p).find())
      .map(UTF8String.fromString)
    java.util.Arrays.sort(kept.asInstanceOf[Array[AnyRef]])
    val sb = new java.lang.StringBuilder(raw.length)
    sb.append(schemeL).append("://").append(hostL).append(portKept)
      .append(path)
    if (kept.nonEmpty) {
      sb.append('?')
      var k = 0
      while (k < kept.length) {
        if (k > 0) sb.append('&')
        sb.append(kept(k))
        k += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Codegen helper: a reference to this object for direct kernel calls. */
  private[plans] def ref(ctx: CodegenContext): String =
    ctx.addReferenceObj("nativeKernels", NativeKernels,
      NativeKernels.getClass.getName)
}

/** URL canonicalization as one string pass (the q82 web-dedup key;
  * the composed form spends ~8 regexp extractions plus an interpreted
  * higher-order filter/sort per row — material at once-per-crawled-page
  * cardinality). Null for unparseable URLs; result/quarantine decisions
  * are bit-equal to `TextFunctions.canonicalUrlColumns`
  * (differential spec over the q82 fixture, edge cases, and fuzz).
  */
case class CanonicalUrlExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_canonical_url"

  override def nullSafeEval(s: Any): Any =
    NativeKernels.canonicalUrl(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    // result may be null for a NON-null input (quarantine): propagate
    // into isNull rather than using defineCodeGen's non-null contract
    nullSafeCodeGen(ctx, ev, s => s"""
      ${ev.value} = $kernel.canonicalUrl($s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(n: Expression): CanonicalUrlExpr =
    copy(child = n)
}

/** Unicode NFC normalization (canonical composition) — the standard
  * corpus-cleaning step that makes `é` (precomposed U+00E9) and
  * `e`+U+0301 (combining acute) the SAME string before any dedup
  * fingerprint, shingle, or equality sees them: without it, visually
  * identical documents hash apart and every downstream dedup silently
  * under-merges. Spark has no built-in; a native expression (JDK
  * Normalizer behind codegen) keeps it inside whole-stage codegen —
  * no UDF. NFC (not NFKC) on purpose: canonical composition is
  * lossless, while compatibility folding (ﬁ→fi, ²→2) is a POLICY
  * decision a pipeline should opt into explicitly.
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(s: Any): Any =
    NativeKernels.nfcNormalize(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    defineCodeGen(ctx, ev, s => s"$kernel.nfcNormalize($s)")
  }

  override protected def withNewChildInternal(n: Expression): NfcNormalizeExpr =
    copy(child = n)
}

/** Exact integer dot product of two int8-quantized vectors
  * (array<tinyint>): |q| <= 127, so any dim < 2^48 stays exactly inside
  * long — scoring is bit-portable to any engine with 64-bit integers
  * (or even exact doubles: dims < 2^37 keep the dot under 2^53).
  * Mirrors [[CosineSimExpr]]'s null-on-length-mismatch contract.
  */
case class IntDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else NativeKernels.intDot(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
       |if ($x.numElements() != $y.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = $kernel.intDot($x, $y);
       |}
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotExpr =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature: array of k minima of chained xxhash64(elem, i). */
case class MinHashSigExpr(child: Expression, kExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = kExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(arr: Any, kAny: Any): Any =
    NativeKernels.minhash(arr.asInstanceOf[ArrayData], kAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    defineCodeGen(ctx, ev, (a, k) => s"$kernel.minhash($a, $k)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSigExpr =
    copy(child = newLeft, kExpr = newRight)
}

/** 64-bit SimHash of a string array (xxhash64 per token, majority vote
  * per bit plane).
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(arr: Any): Any =
    NativeKernels.simhash64(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    defineCodeGen(ctx, ev, a => s"$kernel.simhash64($a)")
  }

  override protected def withNewChildInternal(n: Expression): SimHash64Expr =
    copy(child = n)
}

/** 64-bit SimHash over MD5 token hashes (first 8 digest bytes,
  * big-endian) — the cross-engine-portable variant: MD5 is identical in
  * Spark (`md5`) and DuckDB (`md5`), so the whole simhash dedup pipeline
  * (signature → 16-bit bands → hamming verify) is oracle-checkable
  * end-to-end, unlike the xxhash64 [[SimHash64Expr]] (the faster
  * production default; keep it for corpora that don't need a SQL twin).
  * Spec pins this to a driver-side MessageDigest reference.
  */
case class SimHashMd5Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_simhash_md5"

  override def nullSafeEval(arr: Any): Any =
    NativeKernels.simhashMd5(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    defineCodeGen(ctx, ev, a => s"$kernel.simhashMd5($a)")
  }

  override protected def withNewChildInternal(n: Expression): SimHashMd5Expr =
    copy(child = n)
}

/** The md5-bucket kit's hash core as ONE native kernel
  * ([[NativeKernels.md5Prefix]]): long value of the first `hexChars`
  * hex chars of the digest. Bit-equal to the composed
  * conv/substring/md5 chain every SQL mirror replays — the oracle
  * side is untouched.
  */
case class Md5PrefixExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  // the right operand is a foldable int by checkInputDataTypes, but a
  // foldable NULL literal would pass it — advertise nullability honestly
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "graft_md5_prefix"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == StringType && right.dataType == IntegerType &&
        right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_md5_prefix needs (string, foldable int), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(s: Any, n: Any): Any =
    NativeKernels.md5Prefix(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    defineCodeGen(ctx, ev, (s, n) => s"$kernel.md5Prefix($s, $n)")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Md5PrefixExpr = copy(l, r)
}

/** Base-31 Horner rolling hash over the characters of an (already
  * normalized, hence ASCII) string — wrapping 64-bit arithmetic,
  * bit-equal to the composed aggregate(split(...)) form. One byte loop;
  * for the ASCII alphabet of `normalizeText` output, byte == codepoint,
  * matching `ascii()` per char.
  */
case class RollingHashExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_rolling_hash"

  override def nullSafeEval(s: Any): Any =
    NativeKernels.rollingHash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    defineCodeGen(ctx, ev, s => s"$kernel.rollingHash($s)")
  }

  override protected def withNewChildInternal(n: Expression): RollingHashExpr =
    copy(child = n)
}

/** Per-(seed, stream) 60-bit uniform via splitmix64 — the cheap
  * integer mixer that lets hash-per-(row, replicate) families (the
  * Poisson bootstrap) pay ONE md5 per row and derive every replicate's
  * uniform with five integer ops instead of a fresh string hash.
  * Wrapping 64-bit arithmetic — must be a native kernel (ANSI mode
  * errors on composed Column overflow, the RollingHashExpr rule); the
  * DuckDB replay is HUGEINT mod-2^64 with the split-multiply
  * decomposition ([[graft.operators.Bootstrap.splitMixUniformSql]]).
  */
case class SplitMix64Expr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_splitmix64"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_splitmix64 needs (bigint, bigint), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(x: Any, b: Any): Any =
    NativeKernels.splitMix64(x.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    defineCodeGen(ctx, ev, (x, b) => s"$kernel.splitMix64($x, $b)")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SplitMix64Expr = copy(l, r)
}

/** Deterministic hash-embedding (the U5 stub) as one pass: element i =
  * pmod(xxhash64(text, i), 1e6)/1e6 - 0.5 — identical to the composed
  * transform(sequence(...)) form.
  */
case class HashEmbeddingExpr(child: Expression, dimExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = dimExpr
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_hash_embedding"

  override def nullSafeEval(t: Any, dAny: Any): Any =
    NativeKernels.hashEmbedding(t.asInstanceOf[UTF8String],
      dAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    defineCodeGen(ctx, ev, (s, d) => s"$kernel.hashEmbedding($s, $d)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashEmbeddingExpr =
    copy(child = newLeft, dimExpr = newRight)
}

/** Ray-casting point-in-polygon over a ring of struct<x,y> vertices —
  * bit-equal to the composed aggregate-HOF form
  * ([[graft.functions.GeoFunctions.pointInPolygonHof]]): same edge
  * order, same IEEE double intersection arithmetic, same closed/open
  * ring handling (edge n-1 wraps to vertex 0).
  */
case class PointInPolygonExpr(first: Expression, second: Expression,
                              third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pip"

  private lazy val (ringStruct, xi, yi) = third.dataType match {
    case ArrayType(s: StructType, _) =>
      (s, s.fieldIndex("x"), s.fieldIndex("y"))
    case t => throw new IllegalArgumentException(
      s"graft_pip expects array<struct<x,y>> ring, got $t")
  }

  override def nullSafeEval(pxA: Any, pyA: Any, ringA: Any): Any =
    NativeKernels.pointInPolygon(pxA.asInstanceOf[Double],
      pyA.asInstanceOf[Double], ringA.asInstanceOf[ArrayData],
      ringStruct.size, xi, yi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    // field indexes resolve at plan time from the ring's struct type —
    // embedded as constants in the generated call
    defineCodeGen(ctx, ev, (px, py, ring) =>
      s"$kernel.pointInPolygon($px, $py, $ring, ${ringStruct.size}, $xi, $yi)")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PointInPolygonExpr =
    copy(first = f, second = s, third = t)
}

/** Bounding box struct<minx,maxx,miny,maxy> of a struct<x,y> ring in
  * ONE pass — replaces the four interpreted array_min/array_max-over-
  * transform HOFs that used to run on the broadcast side of the
  * point-in-polygon join (the last interpreted lambdas in a hot-path
  * plan). Identical values to the HOF form: null for an empty ring
  * (array_min of an empty array), NULL elements and NULL x/y fields
  * skipped per field (nulls are invisible to array_min/max). One
  * deliberate divergence: a ring where a whole AXIS has no value (the
  * HOF form would emit a struct with null fields) yields a null bbox
  * here — either way the join's bbox prefilter rejects it, so a
  * degenerate polygon matches nothing.
  */
case class PolyBboxExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("minx", DoubleType, nullable = false),
    StructField("maxx", DoubleType, nullable = false),
    StructField("miny", DoubleType, nullable = false),
    StructField("maxy", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_poly_bbox"

  private lazy val (nf, xi, yi) = child.dataType match {
    case ArrayType(s: StructType, _) =>
      (s.size, s.fieldIndex("x"), s.fieldIndex("y"))
    case t => throw new IllegalArgumentException(
      s"graft_poly_bbox expects array<struct<x,y>> ring, got $t")
  }

  override def nullSafeEval(ringA: Any): Any =
    NativeKernels.polyBbox(ringA.asInstanceOf[ArrayData], nf, xi, yi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    // the kernel returns null for an empty or all-null ring
    nullSafeCodeGen(ctx, ev, ring => s"""
       |${ev.value} = $kernel.polyBbox($ring, $nf, $xi, $yi);
       |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): PolyBboxExpr =
    copy(child = c)
}

/** Packed sign-bit signature of a vector against a literal hyperplane
  * matrix (array<array<double>>, planes <= 63) — one pass over the
  * vector per plane, bit-equal to the composed per-plane dot-fold form
  * ([[graft.operators.Similarity.planeSignatureHof]]). The plane matrix
  * is a foldable literal, decoded once per executor, not per row.
  */
case class PlaneSignatureExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_plane_sig"

  private lazy val elemFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_plane_sig expects array<float|double> vector, got $t")
  }

  private lazy val planeMatrix: Array[Array[Double]] = {
    require(right.foldable, "graft_plane_sig planes must be a literal")
    val ad = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }

  override def nullSafeEval(v: Any, planesIgnored: Any): Any =
    NativeKernels.planeSig(v.asInstanceOf[ArrayData], planeMatrix, elemFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = NativeKernels.ref(ctx)
    // the decoded literal matrix rides along as a reference object; the
    // second child (the literal planes array) is evaluated but unused
    val matrix = ctx.addReferenceObj("planeMatrix", planeMatrix, "double[][]")
    defineCodeGen(ctx, ev, (v, _planes) =>
      s"$kernel.planeSig($v, $matrix, $elemFloat)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PlaneSignatureExpr =
    copy(left = newLeft, right = newRight)
}
