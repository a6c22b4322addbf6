package graft.sources

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import java.math.{BigDecimal => JBigDecimal}

/** Per-file column statistics and the conservative file-skipping
  * evaluator behind [[TableStore.analyze]] / [[TableStore.readWhere]] —
  * the Delta/Iceberg data-skipping shape on the store's own manifest
  * machinery. At 100 TB the scan a predicate CAN'T skip is the whole
  * job: parquet row-group stats prune within a file the scheduler
  * already opened, but only FILE-level stats prune the listing itself —
  * tasks are never launched, footers never read, for files whose
  * [min,max] window provably excludes the predicate.
  *
  * Correctness stance: skipping is an OPTIMIZATION ONLY. The evaluator
  * answers "can any row of this file satisfy the predicate?" and must
  * err toward `true`; the caller re-applies the full predicate to the
  * surviving files, so a too-conservative evaluator costs I/O, never
  * rows. Every value comparison is EXACT (integers and decimals via
  * [[JBigDecimal]]; doubles via the exact binary expansion
  * `new JBigDecimal(double)` — never a lossy string round-trip), and
  * anything the evaluator does not understand — an expression shape, a
  * column with no stats, a NaN boundary — keeps the file.
  *
  * Stats values are serialized with full round-trip fidelity:
  * `java.lang.Double.toString` (shortest-repr round-trip), decimal
  * plain strings, percent-encoded UTF-8 strings; timestamps/dates are
  * projected to epoch micros / days BEFORE aggregation (monotonic, so
  * min/max commute with the projection).
  */
object FileStats {

  /** Per-file BLOOM filter over one column's values — the equality/IN
    * skipping complement to [min,max] ranges: interleaved or high-
    * entropy keys give every file the SAME wide range (no range ever
    * prunes), while a bloom answers "this exact value cannot be here"
    * with no false negatives. `m` bits as packed little-endian long
    * words, `k` double-hashed probes (pos_i = (h1 + i·h2) mod m over
    * the two xxhash64 streams [[FileStats.bloomHashes]] defines).
    * False positives only COST I/O (the file is read and filtered);
    * false negatives are impossible by construction, which the spec
    * pins by probing every value actually present.
    */
  final case class Bloom(m: Int, k: Int, words: Array[Long]) {
    def mightContain(h1: Long, h2: Long): Boolean = {
      val b1 = java.lang.Math.floorMod(h1, m.toLong)
      val b2 = java.lang.Math.floorMod(h2, m.toLong)
      var i = 0
      while (i < k) {
        val pos = ((b1 + i * b2) % m).toInt
        if ((words(pos >> 6) & (1L << (pos & 63))) == 0L) return false
        i += 1
      }
      true
    }
  }

  /** One column's file-level stats. `min`/`max` are None when every
    * value in the file is NULL. Values are normalized comparables:
    * `JBigDecimal` for every numeric/date/timestamp kind, `String` for
    * strings, `java.lang.Boolean` for booleans. `bloom` is present
    * only for columns the analyze named in `bloomCols`. `sum` is the
    * EXACT column total over the file's non-null values, recorded only
    * for integral/decimal columns (float/double sums are
    * order-dependent, so a metadata sum would not equal a scan) —
    * the [[TableStore.aggWhere]] metadata-aggregate input; None on
    * lines written before the field existed or for sum-unsafe types
    * (degrades to scanning, never to a wrong total).
    */
  final case class ColStats(rows: Long, nulls: Long,
                            min: Option[Any], max: Option[Any],
                            bloom: Option[Bloom] = None,
                            sum: Option[JBigDecimal] = None)

  /** `rows` = file row count; `cols` = per-column stats for the
    * analyzed columns (absent column ⇒ no pruning on it).
    */
  final case class PerFile(rows: Long, cols: Map[String, ColStats])

  // ------------------------------------------------------- serialization

  private def enc(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '%'  => sb.append("%25")
      case '\t' => sb.append("%09")
      case '\n' => sb.append("%0a")
      case c    => sb.append(c)
    }
    sb.toString
  }

  private def dec(s: String): String =
    s.replace("%0a", "\n").replace("%09", "\t").replace("%25", "%")

  private def encVal(v: Option[Any]): String = v match {
    case None               => "-"
    case Some(b: JBigDecimal) => "n:" + b.toString
    case Some(s: String)    => "s:" + enc(s)
    case Some(b: java.lang.Boolean) => "b:" + b.toString
    case Some(other) => throw new IllegalStateException(
      s"unexpected stat value ${other.getClass}")
  }

  private def decVal(s: String): Option[Any] =
    if (s == "-") None
    else if (s.startsWith("n:")) Some(new JBigDecimal(s.drop(2)))
    else if (s.startsWith("s:")) Some(dec(s.drop(2)))
    else if (s.startsWith("b:")) Some(java.lang.Boolean.valueOf(s.drop(2)))
    else throw new IllegalStateException(s"bad stat value encoding: $s")

  private def encBloom(b: Option[Bloom]): String = b match {
    case None => "-"
    case Some(bl) =>
      val hex = new StringBuilder(bl.words.length * 16)
      bl.words.foreach(w => hex.append(f"$w%016x"))
      s"b:${bl.m}:${bl.k}:$hex"
  }

  private def decBloom(s: String): Option[Bloom] =
    if (s == "-" || !s.startsWith("b:")) None
    else {
      val p = s.drop(2).split(":", 3)
      val (m, k, hex) = (p(0).toInt, p(1).toInt, p(2))
      val words = Array.tabulate(hex.length / 16)(i =>
        java.lang.Long.parseUnsignedLong(
          hex.substring(i * 16, i * 16 + 16), 16))
      Some(Bloom(m, k, words))
    }

  /** `file rel path → PerFile` as commit-manifest lines, one per
    * (file, col):
    * `s=<rel>\t<col>\t<rows>\t<nulls>\t<min>\t<max>[\t<bloom>[\t<sum>]]`
    * plus a bare `r=<rel>\t<rows>` row-count line per file. The bloom
    * and sum fields are optional: a line without them parses with
    * field = None, which only ever degrades skipping.
    */
  def serialize(stats: Map[String, PerFile]): String = {
    val sb = new StringBuilder
    stats.toSeq.sortBy(_._1).foreach { case (rel, pf) =>
      sb.append(s"r=${enc(rel)}\t${pf.rows}\n")
      pf.cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
        sb.append(s"s=${enc(rel)}\t${enc(c)}\t${cs.rows}\t${cs.nulls}\t" +
          s"${encVal(cs.min)}\t${encVal(cs.max)}\t${encBloom(cs.bloom)}\t" +
          s"${encVal(cs.sum.map(identity[Any]))}\n")
      }
    }
    sb.toString
  }

  /** The file a [[serialize]]d line describes, without decoding the
    * rest of the line (a bloom can be kilobytes).
    */
  def fileOf(line: String): String =
    dec(line.substring(2, line.indexOf('\t')))

  def deserialize(txt: String): Map[String, PerFile] = {
    val rows = scala.collection.mutable.Map.empty[String, Long]
    val cols = scala.collection.mutable
      .Map.empty[String, Map[String, ColStats]]
    txt.split("\n").filter(_.nonEmpty).foreach { l =>
      if (l.startsWith("r=")) {
        val p = l.drop(2).split("\t")
        rows(dec(p(0))) = p(1).toLong
      } else if (l.startsWith("s=")) {
        val p = l.drop(2).split("\t", -1)
        val rel = dec(p(0))
        val bloom = if (p.length > 6) decBloom(p(6)) else None
        val sumV = if (p.length > 7) decVal(p(7)).collect {
          case b: JBigDecimal => b
        } else None
        cols(rel) = cols.getOrElse(rel, Map.empty) +
          (dec(p(1)) -> ColStats(p(2).toLong, p(3).toLong,
            decVal(p(4)), decVal(p(5)), bloom, sumV))
      }
    }
    rows.map { case (rel, n) =>
      rel -> PerFile(n, cols.getOrElse(rel, Map.empty))
    }.toMap
  }

  // --------------------------------------------- literal normalization

  /** Exact comparable for a literal's Catalyst-internal value, aligned
    * with the normalization [[TableStore.analyze]] applies before
    * aggregation (timestamps → micros, dates → days). None ⇒ this
    * literal kind is outside the evaluator's domain (keep the file).
    */
  private def normLit(v: Any, t: DataType): Option[Any] = {
    if (v == null) return None // null literal comparisons never prune here
    t match {
      case ByteType    => Some(new JBigDecimal(v.asInstanceOf[Byte].toLong))
      case ShortType   => Some(new JBigDecimal(v.asInstanceOf[Short].toLong))
      case IntegerType => Some(new JBigDecimal(v.asInstanceOf[Int].toLong))
      case LongType    => Some(new JBigDecimal(v.asInstanceOf[Long]))
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) None
        else Some(new JBigDecimal(f.toDouble))
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) None else Some(new JBigDecimal(d))
      case _: DecimalType =>
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal)
      case StringType  => Some(v.toString) // UTF8String → String
      case BooleanType => Some(java.lang.Boolean.valueOf(
        v.asInstanceOf[Boolean]))
      case DateType    => Some(new JBigDecimal(v.asInstanceOf[Int].toLong))
      case TimestampType | TimestampNTZType =>
        Some(new JBigDecimal(v.asInstanceOf[Long]))
      case _ => None
    }
  }

  // --------------------------------------------------- bloom hashing

  /** Salt prepended (as a string literal child) to xxhash64 for the
    * second hash stream — composing children is how a SECOND
    * independent hash function is obtained without private Catalyst
    * constructors, and the engine-side aggregation and this driver-side
    * replay share it by name.
    */
  val BloomSalt = "graft_bloom2"

  /** A predicate literal re-typed exactly as the analyze-side bloom
    * projection hashes the column ([[TableStore.analyze]]'s `normCol`:
    * integral → long, float → double, date → Int days, timestamp →
    * long micros; string/bool/decimal as-is) — the two xxhash64
    * streams only agree if the Catalyst input TYPE agrees, not just
    * the value. None ⇒ outside the bloom's domain (keep the file).
    */
  private def bloomLit(v: Any, t: DataType): Option[Literal] = {
    if (v == null) return None
    t match {
      case ByteType    => Some(Literal(v.asInstanceOf[Byte].toLong, LongType))
      case ShortType   => Some(Literal(v.asInstanceOf[Short].toLong, LongType))
      case IntegerType => Some(Literal(v.asInstanceOf[Int].toLong, LongType))
      case LongType    => Some(Literal(v.asInstanceOf[Long], LongType))
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) None
        else Some(Literal(f.toDouble, DoubleType))
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) None else Some(Literal(d, DoubleType))
      case dt: DecimalType => Some(Literal(v, dt))
      case StringType      => Some(Literal(v, StringType))
      case BooleanType     => Some(Literal(v, BooleanType))
      case DateType        => Some(Literal(v.asInstanceOf[Int], IntegerType))
      case TimestampType | TimestampNTZType =>
        Some(Literal(v.asInstanceOf[Long], LongType))
      case _ => None
    }
  }

  /** (h1, h2) for a predicate literal — the same two xxhash64 streams
    * the analyze-side bloom aggregation computes per row.
    */
  def bloomHashes(v: Any, t: DataType): Option[(Long, Long)] =
    bloomLit(v, t).map { l =>
      val h1 = XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long]
      val h2 = XxHash64(Seq(
        Literal(org.apache.spark.unsafe.types.UTF8String
          .fromString(BloomSalt), StringType), l), 42L)
        .eval(null).asInstanceOf[Long]
      (h1, h2)
    }

  /** Exact total-order compare of two normalized comparables; None when
    * the kinds are incompatible (schema drift between stats and
    * predicate — keep the file).
    */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: JBigDecimal, y: JBigDecimal) => Some(x.compareTo(y))
    case (x: String, y: String)           => Some(x.compareTo(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) =>
      Some(x.compareTo(y))
    case _ => None
  }

  // ------------------------------------------------- pruning evaluator

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference  => Some(a.name)
    case _                      => None
  }

  private def litOf(e: Expression): Option[(Any, DataType)] = e match {
    case Literal(v, t) => Some((v, t))
    case _             => None
  }

  /** Can any row of a file with stats `pf` satisfy `pred`? `false` only
    * on proof of emptiness; every unknown shape answers `true`.
    */
  def mayMatch(pred: Expression, pf: PerFile): Boolean = {
    if (pf.rows == 0L) return false

    def stats(name: String): Option[ColStats] = pf.cols.get(name)

    /** range test: does [min,max] admit a value `op` lit? */
    def rangeKeep(name: String, litV: Any, litT: DataType,
                  keepIf: (Int, Int) => Boolean): Boolean =
      (stats(name), normLit(litV, litT)) match {
        case (Some(cs), Some(l)) =>
          if (cs.rows == cs.nulls) false // all null: no value compares
          else (cs.min, cs.max) match {
            case (Some(mn), Some(mx)) =>
              (cmp(mn, l), cmp(mx, l)) match {
                case (Some(cMin), Some(cMax)) => keepIf(cMin, cMax)
                case _                        => true
              }
            case _ => true
          }
        case _ => true
      }

    /** bloom probe: prove the exact value absent even when the
      * [min,max] window admits it. No bloom / null literal / foreign
      * type ⇒ keep.
      */
    def bloomKeep(name: String, litV: Any, litT: DataType): Boolean =
      stats(name).flatMap(_.bloom) match {
        case Some(b) if litV != null =>
          bloomHashes(litV, litT) match {
            case Some((h1, h2)) => b.mightContain(h1, h2)
            case None           => true
          }
        case _ => true
      }

    def eval(e: Expression): Boolean = e match {
      case And(a, b) => eval(a) && eval(b)
      case Or(a, b)  => eval(a) || eval(b)

      case EqualTo(a, l) if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeKeep(attrName(a).get, v, t, (cMin, cMax) =>
          cMin <= 0 && cMax >= 0) &&
          bloomKeep(attrName(a).get, v, t)
      case EqualTo(l, a) if attrName(a).isDefined && litOf(l).isDefined =>
        eval(EqualTo(a, l))

      case LessThan(a, l) if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeKeep(attrName(a).get, v, t, (cMin, _) => cMin < 0)
      case LessThan(l, a) if attrName(a).isDefined && litOf(l).isDefined =>
        eval(GreaterThan(a, l))

      case LessThanOrEqual(a, l)
          if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeKeep(attrName(a).get, v, t, (cMin, _) => cMin <= 0)
      case LessThanOrEqual(l, a)
          if attrName(a).isDefined && litOf(l).isDefined =>
        eval(GreaterThanOrEqual(a, l))

      case GreaterThan(a, l)
          if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeKeep(attrName(a).get, v, t, (_, cMax) => cMax > 0)
      case GreaterThan(l, a)
          if attrName(a).isDefined && litOf(l).isDefined =>
        eval(LessThan(a, l))

      case GreaterThanOrEqual(a, l)
          if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeKeep(attrName(a).get, v, t, (_, cMax) => cMax >= 0)
      case GreaterThanOrEqual(l, a)
          if attrName(a).isDefined && litOf(l).isDefined =>
        eval(LessThanOrEqual(a, l))

      case In(a, list) if attrName(a).isDefined &&
          list.nonEmpty && list.forall(litOf(_).isDefined) =>
        list.exists(l => eval(EqualTo(a, l)))

      // the optimizer's large-list form (values are internal reprs of
      // the child's type; only a resolved attribute knows that type)
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        hset.exists(v => eval(EqualTo(a, Literal(v, a.dataType))))

      case IsNull(a) if attrName(a).isDefined =>
        stats(attrName(a).get).forall(_.nulls > 0)
      case IsNotNull(a) if attrName(a).isDefined =>
        stats(attrName(a).get).forall(cs => cs.rows > cs.nulls)

      case Not(IsNull(a))    => eval(IsNotNull(a))
      case Not(IsNotNull(a)) => eval(IsNull(a))
      // != lit prunes only a constant file: min == max == lit, no nulls
      case Not(EqualTo(a, l))
          if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        (stats(attrName(a).get), normLit(v, t)) match {
          case (Some(cs), Some(lit)) if cs.nulls == 0 =>
            (cs.min, cs.max) match {
              case (Some(mn), Some(mx)) =>
                !(cmp(mn, lit).contains(0) && cmp(mx, lit).contains(0))
              case _ => true
            }
          case _ => true
        }

      case StartsWith(a, l)
          if attrName(a).isDefined && litOf(l).isDefined =>
        litOf(l).get match {
          case (v, StringType) if v != null =>
            val prefix = v.toString
            stats(attrName(a).get) match {
              case Some(cs) if cs.rows > cs.nulls =>
                (cs.min, cs.max) match {
                  case (Some(mn: String), Some(mx: String)) =>
                    // prune only on proof: every prefixed string is
                    // >= prefix (so mx < prefix excludes) and any
                    // mn above the WHOLE prefix class — mn > prefix
                    // and not itself prefixed — excludes too
                    mx.compareTo(prefix) >= 0 &&
                      (mn.startsWith(prefix) || mn.compareTo(prefix) <= 0)
                  case _ => true
                }
              case Some(_) => false // all-null: no string starts with p
              case None     => true
            }
          case _ => true
        }

      case _ => true // unknown shape: never prune
    }

    eval(pred)
  }

  /** Dual of [[mayMatch]]: can the stats PROVE every row of the file
    * satisfies `pred`? Conservative the other way — `true` only on
    * proof, `false` for any unknown shape — so
    * `allMatch ⇒ the file contributes exactly its row count` to a
    * predicate COUNT without being read ([[TableStore.aggWhere]]).
    * SQL three-valued semantics: a NULL operand makes a comparison
    * non-matching, so every comparison proof also requires nulls == 0.
    */
  def allMatch(pred: Expression, pf: PerFile): Boolean = {
    if (pf.rows == 0L) return true // vacuously: zero rows all match

    def stats(name: String): Option[ColStats] = pf.cols.get(name)

    /** proof by range: EVERY value (and there are no nulls) compares
      * `keepIf` against the literal.
      */
    def rangeAll(name: String, litV: Any, litT: DataType,
                 keepIf: (Int, Int) => Boolean): Boolean =
      (stats(name), normLit(litV, litT)) match {
        case (Some(cs), Some(l)) if cs.nulls == 0 =>
          (cs.min, cs.max) match {
            case (Some(mn), Some(mx)) =>
              (cmp(mn, l), cmp(mx, l)) match {
                case (Some(cMin), Some(cMax)) => keepIf(cMin, cMax)
                case _                        => false
              }
            case _ => false
          }
        case _ => false
      }

    def eval(e: Expression): Boolean = e match {
      case And(a, b) => eval(a) && eval(b)
      // sufficient, not necessary: a file can satisfy a∨b row-wise
      // without either side covering it alone — that file just reads
      case Or(a, b) => eval(a) || eval(b)

      case EqualTo(a, l) if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeAll(attrName(a).get, v, t,
          (cMin, cMax) => cMin == 0 && cMax == 0)
      case EqualTo(l, a) if attrName(a).isDefined && litOf(l).isDefined =>
        eval(EqualTo(a, l))

      case LessThan(a, l) if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeAll(attrName(a).get, v, t, (_, cMax) => cMax < 0)
      case LessThan(l, a) if attrName(a).isDefined && litOf(l).isDefined =>
        eval(GreaterThan(a, l))

      case LessThanOrEqual(a, l)
          if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeAll(attrName(a).get, v, t, (_, cMax) => cMax <= 0)
      case LessThanOrEqual(l, a)
          if attrName(a).isDefined && litOf(l).isDefined =>
        eval(GreaterThanOrEqual(a, l))

      case GreaterThan(a, l)
          if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeAll(attrName(a).get, v, t, (cMin, _) => cMin > 0)
      case GreaterThan(l, a)
          if attrName(a).isDefined && litOf(l).isDefined =>
        eval(LessThan(a, l))

      case GreaterThanOrEqual(a, l)
          if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeAll(attrName(a).get, v, t, (cMin, _) => cMin >= 0)
      case GreaterThanOrEqual(l, a)
          if attrName(a).isDefined && litOf(l).isDefined =>
        eval(LessThanOrEqual(a, l))

      // a constant no-null file whose single value the list contains
      case In(a, list) if attrName(a).isDefined &&
          list.nonEmpty && list.forall(litOf(_).isDefined) =>
        list.exists(l => eval(EqualTo(a, l)))
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        hset.exists(v => eval(EqualTo(a, Literal(v, a.dataType))))

      case IsNull(a) if attrName(a).isDefined =>
        stats(attrName(a).get).exists(cs => cs.nulls == cs.rows)
      case IsNotNull(a) if attrName(a).isDefined =>
        stats(attrName(a).get).exists(_.nulls == 0)

      case Not(IsNull(a))    => eval(IsNotNull(a))
      case Not(IsNotNull(a)) => eval(IsNull(a))
      // != lit holds everywhere when the whole no-null window misses it
      case Not(EqualTo(a, l))
          if attrName(a).isDefined && litOf(l).isDefined =>
        val (v, t) = litOf(l).get
        rangeAll(attrName(a).get, v, t,
          (cMin, cMax) => cMax < 0 || cMin > 0)

      case StartsWith(a, l)
          if attrName(a).isDefined && litOf(l).isDefined =>
        litOf(l).get match {
          case (v, StringType) if v != null =>
            val prefix = v.toString
            stats(attrName(a).get) match {
              case Some(cs) if cs.nulls == 0 =>
                (cs.min, cs.max) match {
                  // both bounds inside the prefix class ⇒ every value
                  // between them is too (prefix classes are string-
                  // order intervals)
                  case (Some(mn: String), Some(mx: String)) =>
                    mn.startsWith(prefix) && mx.startsWith(prefix)
                  case _ => false
                }
              case _ => false
            }
          case _ => false
        }

      case _ => false // unknown shape: never prove
    }

    eval(pred)
  }
}
