package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels for the dedup/text-analysis hot path.
  *
  * [[NormTokensExpr]] == split(trim(regexp_replace(regexp_replace(
  * lower(text),'[^a-z0-9]+',' '),'\s+',' ')), ' ') — i.e.
  * `TextFunctions.tokens`: lowercase, then maximal runs of [a-z0-9]
  * become tokens. One byte scan instead of two regex passes + split.
  * Empty input yields [""] to match split-on-empty-string semantics.
  *
  * [[ShinglesExpr]] == the `TextFunctions.shingles` composition
  * (transform/sequence/slice/array_join, incl. its short-text edge case
  * where a truncated final window is emitted).
  */
case class NormTokensExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_norm_tokens"

  override def nullSafeEval(input: Any): Any =
    TextKernels.normTokens(input.asInstanceOf[UTF8String])

  /** Real codegen: the kernel stays a JVM method (string/buffer work
    * gains nothing from inlining), but emitting a direct call keeps
    * this expression INSIDE WholeStageCodegen — with CodegenFallback a
    * projection mixing it with builtins dropped the whole stage to
    * interpreted eval.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("textKernels", TextKernels,
      TextKernels.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$kernel.normTokens($c)")
  }

  override protected def withNewChildInternal(n: Expression): NormTokensExpr =
    copy(child = n)
}

/** Row-at-a-time text kernels shared by interpreted eval and generated
  * code (codegen emits a direct call via a reference object).
  */
object TextKernels extends Serializable {
  /** See [[NormTokensExpr]]: lowercase, maximal [a-z0-9] runs as
    * tokens; empty input yields [""] to match split-on-empty semantics.
    */
  def normTokens(input: UTF8String): ArrayData = {
    val lowered = input.toLowerCase.toString
    val tokens = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) {
        tokens += UTF8String.fromString(sb.toString); sb.setLength(0)
      }
      i += 1
    }
    if (sb.length > 0) tokens += UTF8String.fromString(sb.toString)
    if (tokens.isEmpty) tokens += UTF8String.EMPTY_UTF8 // split("") -> [""]
    new GenericArrayData(tokens.toArray[Any])
  }

  private lazy val markerSets: Map[String, Array[UTF8String]] =
    graft.functions.TextFunctions.langMarkers.map { case (l, ms) =>
      l -> ms.map(UTF8String.fromString).toArray
    }

  /** Marker set for a language code, resolved ONCE per expression when
    * the lang operand is a literal (the only supported call shape) —
    * the per-row path never re-does the string decode + map lookup.
    */
  def markersFor(lang: UTF8String): Array[UTF8String] =
    if (lang == null) Array.empty
    else markerSets.getOrElse(lang.toString, Array.empty)

  /** See [[MarkerHitsExpr]]: count of tokens equal to any of the
    * language's marker words (multiset semantics — each occurrence
    * counts, matching `size(filter(toks, isInCollection(markers)))`).
    */
  def markerHits(a: ArrayData, markers: Array[UTF8String]): Long = {
    var hits = 0L
    var i = 0
    while (i < a.numElements()) {
      val t = a.getUTF8String(i)
      var m = 0
      var found = false
      while (m < markers.length && !found) {
        if (markers(m).equals(t)) found = true
        m += 1
      }
      if (found) hits += 1
      i += 1
    }
    hits
  }

  /** See [[AlphaWordsExpr]]: count of tokens containing at least one
    * lowercase letter (matching `size(filter(toks, rlike("[a-z]")))`
    * over normalized tokens). Scans raw UTF-8 bytes — every byte of a
    * multi-byte sequence has its high bit set, so the ASCII a-z compare
    * cannot false-positive and no per-token String decode is needed. A
    * null element counts 0, matching the HOF twin (rlike(null) → null →
    * filtered out).
    */
  def alphaWords(a: ArrayData): Long = {
    var hits = 0L
    var i = 0
    while (i < a.numElements()) {
      val t = a.getUTF8String(i)
      if (t != null) {
        var j = 0
        var found = false
        val n = t.numBytes()
        while (j < n && !found) {
          val b = t.getByte(j)
          if (b >= 'a'.toByte && b <= 'z'.toByte) found = true
          j += 1
        }
        if (found) hits += 1
      }
      i += 1
    }
    hits
  }

  /** See [[ShinglesExpr]]: word n-gram windows over a token array,
    * short texts emitting one truncated window.
    */
  def shingles(a: ArrayData, n: Int): ArrayData = {
    val len = a.numElements()
    // mirrors sequence(0, greatest(len - n, 0)): always >= 1 window;
    // slice clamps, so a short text emits one truncated shingle
    val nWindows = math.max(len - n, 0) + 1
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var w = 0
    while (w < nWindows) {
      val end = math.min(w + n, len)
      val sb = new java.lang.StringBuilder
      var i = w
      while (i < end) {
        if (i > w) sb.append(' ')
        sb.append(a.getUTF8String(i).toString)
        i += 1
      }
      if (sb.length > 0) out += UTF8String.fromString(sb.toString)
      w += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** See [[BpeSegmentExpr]]: tokenize ([[normTokens]] semantics, so an
    * empty text's `[""]` token yields one bare `</w>` exactly like the
    * Column composition), then per token replay each merge in order as
    * one greedy left-to-right pass — `Bpe.mergeFold`'s algebra: merge
    * into the accumulator tail or append, the scan resuming AFTER a
    * merge ("a a a" under (a,a) → [aa, a]).
    */
  def bpeSegment(input: UTF8String,
                 merges: Array[(String, String)]): ArrayData = {
    val toks = normTokens(input)
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var t = 0
    while (t < toks.numElements()) {
      val w = toks.getUTF8String(t).toString
      var syms = new scala.collection.mutable.ArrayBuffer[String](w.length + 1)
      var ci = 0
      while (ci < w.length) { syms += w.substring(ci, ci + 1); ci += 1 }
      syms += "</w>"
      var mi = 0
      while (mi < merges.length) {
        val (l, r) = merges(mi)
        val acc = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var i = 0
        while (i < syms.length) {
          val x = syms(i)
          if (acc.nonEmpty && acc(acc.length - 1) == l && x == r)
            acc(acc.length - 1) = l + r
          else acc += x
          i += 1
        }
        syms = acc
        mi += 1
      }
      syms.foreach(s => out += UTF8String.fromString(s))
      t += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** See [[ScriptMixExpr]]: ONE code-point pass classifying into
    * (latin, digit, cyrillic, cjk, other) — the ranges are explicit
    * code-point windows so the SQL oracle can replay them as RE2
    * `[\x{…}-\x{…}]` classes with identical semantics. Exact windows
    * (any drift here must be mirrored in the q116 oracle classes):
    *   latin    = [A-Za-z  \x{00C0}-\x{00D6}  \x{00D8}-\x{00F6}
    *               \x{00F8}-\x{024F}]   (ASCII letters + Latin-1
    *               Supplement letters excluding × ÷ + Latin
    *               Extended-A/B — é ü ñ are latin, not junk)
    *   digit    = [0-9]
    *   cyrillic = [\x{0400}-\x{052F}]   (base block + Supplement)
    *   cjk      = [\x{4E00}-\x{9FFF}]   (Unified Ideographs)
    */
  def scriptMix(input: UTF8String): ArrayData = {
    val s = input.toString
    var lat = 0L; var dig = 0L; var cyr = 0L; var cjk = 0L; var oth = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= 0x00C0 && cp <= 0x024F && cp != 0x00D7 && cp != 0x00F7))
        lat += 1
      else if (cp >= '0' && cp <= '9') dig += 1
      else if (cp >= 0x0400 && cp <= 0x052F) cyr += 1
      else if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
      else oth += 1
    }
    new GenericArrayData(Array[Any](lat, dig, cyr, cjk, oth))
  }

  /** See [[UnigramScoreExpr]]: tokenize ([[normTokens]] semantics),
    * then per word run the Viterbi max-score DP over the piece table —
    * dp[j] = max over piece lengths l of dp[j−l] + cost(w[j−l..j)),
    * with the single-character FALLBACK cost standing in when a
    * length-1 piece is absent (so every word is scorable). Returns the
    * SUM of per-word best scores: the max is a unique value, so the
    * result is deterministic even when distinct segmentations tie —
    * the reason this kernel reports scores, never piece sequences.
    */
  def unigramScore(input: UTF8String,
                   costs: java.util.HashMap[String, java.lang.Long],
                   maxPieceLen: Int, fallback: Long): Long = {
    val toks = normTokens(input)
    val Neg = java.lang.Long.MIN_VALUE / 4
    var total = 0L
    var t = 0
    while (t < toks.numElements()) {
      val w = toks.getUTF8String(t).toString
      val n = w.length
      if (n > 0) {
        val dp = new Array[Long](n + 1)
        var j = 1
        while (j <= n) {
          var best = Neg
          val lMax = if (j < maxPieceLen) j else maxPieceLen
          var l = 1
          while (l <= lMax) {
            if (dp(j - l) > Neg / 2) {
              val c = costs.get(w.substring(j - l, j))
              if (c != null) {
                val s = dp(j - l) + c.longValue(); if (s > best) best = s
              } else if (l == 1) {
                val s = dp(j - 1) + fallback; if (s > best) best = s
              }
            }
            l += 1
          }
          dp(j) = best
          j += 1
        }
        total += dp(n)
      }
      t += 1
    }
    total
  }
}

/** Unicode-script histogram over a string — the mixed-script spam /
  * wrong-language-routing signal in web-corpus cleaning (a document
  * whose letters split across scripts is a strong junk indicator, and
  * script routing gates which language-specific pipeline a doc enters).
  * Returns `array<long>` of five counts: [latin, digit, cyrillic,
  * cjk, other] — exact code-point windows documented (and oracle-
  * replayed as RE2 classes) at [[TextKernels.scriptMix]]. One
  * code-point pass (codegen), instead of four regexp_replace scans.
  */
case class ScriptMixExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_script_mix"

  override def nullSafeEval(input: Any): Any =
    TextKernels.scriptMix(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("textKernels", TextKernels,
      TextKernels.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$kernel.scriptMix($c)")
  }

  override protected def withNewChildInternal(n: Expression): ScriptMixExpr =
    copy(child = n)
}

/** Word n-gram shingles over a token array; n is a literal. */
case class ShinglesExpr(child: Expression, nExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = nExpr
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(arr: Any, nAny: Any): Any =
    TextKernels.shingles(arr.asInstanceOf[ArrayData], nAny.asInstanceOf[Int])

  /** Real codegen via a direct kernel call (same rationale as
    * [[NormTokensExpr]]): a shingle projection mixed with builtins —
    * q55's tagged-gram build, q17/q18's shingle sets — must not drop
    * the whole stage to interpreted eval.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("textKernels", TextKernels,
      TextKernels.getClass.getName)
    defineCodeGen(ctx, ev, (a, n) => s"$kernel.shingles($a, $n)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShinglesExpr =
    copy(child = newLeft, nExpr = newRight)
}

/** Marker-word hit count for one language over a token array; the lang
  * code is a literal. Replaces the interpreted
  * `size(filter(toks, isInCollection(markers)))` HOF — the expression
  * that kept every text-quality projection out of WholeStageCodegen.
  */
case class MarkerHitsExpr(child: Expression, langExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = langExpr
  override def dataType: DataType = LongType
  // nullable: BinaryExpression default (either operand null → NULL),
  // so a null lang yields NULL instead of reaching the kernel
  override def prettyName: String = "graft_marker_hits"

  // lang is a literal in every library call shape — resolve the marker
  // set once per expression instance, not once per row
  @transient private lazy val litMarkers: Option[Array[UTF8String]] =
    if (langExpr.foldable)
      Option(langExpr.eval(null).asInstanceOf[UTF8String])
        .map(TextKernels.markersFor)
    else None

  override def nullSafeEval(arr: Any, lang: Any): Any =
    TextKernels.markerHits(arr.asInstanceOf[ArrayData],
      litMarkers.getOrElse(
        TextKernels.markersFor(lang.asInstanceOf[UTF8String])))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("textKernels", TextKernels,
      TextKernels.getClass.getName)
    litMarkers match {
      case Some(ms) =>
        val markers = ctx.addReferenceObj("markers", ms,
          "org.apache.spark.unsafe.types.UTF8String[]")
        defineCodeGen(ctx, ev, (a, _) => s"$kernel.markerHits($a, $markers)")
      case None =>
        defineCodeGen(ctx, ev,
          (a, l) => s"$kernel.markerHits($a, $kernel.markersFor($l))")
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MarkerHitsExpr =
    copy(child = newLeft, langExpr = newRight)
}

/** Count of tokens containing a lowercase letter (the Gopher
  * alphabetic-word measure) — same rationale as [[MarkerHitsExpr]].
  */
case class AlphaWordsExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_alpha_words"

  override def nullSafeEval(arr: Any): Any =
    TextKernels.alphaWords(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("textKernels", TextKernels,
      TextKernels.getClass.getName)
    defineCodeGen(ctx, ev, a => s"$kernel.alphaWords($a)")
  }

  override protected def withNewChildInternal(n: Expression): AlphaWordsExpr =
    copy(child = n)
}

/** BPE segmentation of a text column under a learned merge list — the
  * native kernel behind [[graft.operators.Bpe.segment]]. The composed
  * Column form (6+ nested `aggregate`/`transform` HOFs per token) is
  * correct but interpreted — Spark's higher-order functions are
  * CodegenFallback, and the nested closures made q98's segmentation
  * pass ~6× slower than the training loop it follows. This expression
  * replays the merges in training order over each token's character
  * symbols in one JVM pass and stays inside WholeStageCodegen (same
  * rationale as [[NormTokensExpr]]).
  *
  * `mergesExpr` must be a foldable string literal of `left right`
  * lines in training order (symbols never contain spaces or newlines:
  * normalized tokens are [a-z0-9] plus the `</w>` marker), parsed once
  * per expression instance — the [[MarkerHitsExpr]] literal pattern.
  */
case class BpeSegmentExpr(child: Expression, mergesExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = mergesExpr
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_bpe_segment"

  @transient private lazy val merges: Array[(String, String)] = {
    require(mergesExpr.foldable, "graft_bpe_segment merges must be a literal")
    val s = Option(mergesExpr.eval(null).asInstanceOf[UTF8String])
      .map(_.toString).getOrElse("")
    if (s.isEmpty) Array.empty
    else s.split('\n').map { l =>
      val i = l.indexOf(' ')
      require(i > 0, s"bad merge line: '$l'")
      (l.substring(0, i), l.substring(i + 1))
    }
  }

  override def nullSafeEval(input: Any, m: Any): Any =
    TextKernels.bpeSegment(input.asInstanceOf[UTF8String], merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("textKernels", TextKernels,
      TextKernels.getClass.getName)
    val ms = ctx.addReferenceObj("bpeMerges", merges, "scala.Tuple2[]")
    defineCodeGen(ctx, ev, (a, _) => s"$kernel.bpeSegment($a, $ms)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeSegmentExpr =
    copy(child = newLeft, mergesExpr = newRight)
}

/** Unigram-LM (SentencePiece-style) Viterbi scoring of a text column
  * under a trained piece table — the native kernel behind
  * [[graft.operators.Unigram.scoreDocs]] (Kudo 2018's unigram language
  * model tokenizer, the other mainstream subword scheme beside BPE;
  * public literature, no reference counterpart). Each normalized word
  * is segmented by the max-score DP over quantized-ln piece costs and
  * the expression returns the per-document SUM of best scores — the
  * corpus "encoding cost" a tokenizer evaluation compares across
  * vocabularies. Scores only, never piece sequences: the max is a
  * unique value, so ties between segmentations cannot make the gate
  * engine-order-sensitive.
  *
  * `modelExpr` must be a foldable string literal: first line
  * `<maxPieceLen> <fallbackCost>`, then one `<piece> <costQ>` line per
  * vocabulary piece (pieces are normalized [a-z0-9] substrings — never
  * contain spaces/newlines), parsed once per expression instance (the
  * [[BpeSegmentExpr]] literal pattern).
  */
case class UnigramScoreExpr(child: Expression, modelExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = modelExpr
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_unigram_score"

  @transient private lazy val (costs, maxPieceLen, fallback):
      (java.util.HashMap[String, java.lang.Long], Int, Long) = {
    require(modelExpr.foldable, "graft_unigram_score model must be a literal")
    val s = Option(modelExpr.eval(null).asInstanceOf[UTF8String])
      .map(_.toString).getOrElse("")
    val lines = s.split('\n').filter(_.nonEmpty)
    require(lines.nonEmpty, "graft_unigram_score: empty model")
    val head = lines.head.split(' ')
    require(head.length == 2, s"bad model header: '${lines.head}'")
    val (ml, fb) = (head(0).toInt, head(1).toLong)
    require(ml >= 1, s"maxPieceLen must be >= 1, got $ml")
    val m = new java.util.HashMap[String, java.lang.Long](lines.length * 2)
    lines.drop(1).foreach { l =>
      val i = l.indexOf(' ')
      require(i > 0, s"bad model line: '$l'")
      m.put(l.substring(0, i), java.lang.Long.valueOf(l.substring(i + 1)))
    }
    (m, ml, fb)
  }

  override def nullSafeEval(input: Any, m: Any): Any =
    TextKernels.unigramScore(input.asInstanceOf[UTF8String], costs,
      maxPieceLen, fallback)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("textKernels", TextKernels,
      TextKernels.getClass.getName)
    val cm = ctx.addReferenceObj("unigramCosts", costs,
      "java.util.HashMap<String, Long>")
    defineCodeGen(ctx, ev, (a, _) =>
      s"$kernel.unigramScore($a, $cm, $maxPieceLen, ${fallback}L)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramScoreExpr =
    copy(child = newLeft, modelExpr = newRight)
}
