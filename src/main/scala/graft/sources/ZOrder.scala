package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Morton (Z-order) interleave for multi-dimension file clustering —
  * the companion to
  * [[TableStore.analyze(table:String,statsCols:Seq[String])* TableStore.analyze]]/
  * [[TableStore.readWhere]]: a single-column sort clusters files tightly
  * on ONE dimension (every
  * other dimension's per-file [min,max] stays the full domain, so
  * skipping proves nothing); interleaving the bits of each dimension's
  * normalized rank gives every clustered file a bounded window in ALL
  * the interleaved dimensions at once — a range predicate on any one
  * of them prunes ~N^((d−1)/d) of the files instead of none. The
  * Delta OPTIMIZE ZORDER BY shape, built from plain Column algebra
  * (shift/and/or — whole-stage-codegen arithmetic, no UDF).
  *
  * Buckets are MIN/MAX-LINEAR: each dimension is scaled to
  * `2^bitsPerCol` equal-width buckets from a one-row global aggregate.
  * Equal-width (not equal-frequency) keeps the map exact-arithmetic
  * simple and deterministic; heavy skew in a dimension degrades
  * clustering QUALITY only — never correctness, since Z-order feeds
  * the conservative stats evaluator. NULLs bucket to 0 (they sort
  * first, matching parquet null-first row-group packing).
  */
object ZOrder {

  /** Supported: numeric, date, timestamp. Everything is normalized to
    * a DOUBLE position before bucketing (clustering quality needs no
    * exactness; the skipping layer on top is exact by construction).
    */
  private def asDouble(c: Column, t: DataType): Column = t match {
    case _: NumericType => c.cast(DoubleType)
    case DateType => datediff(c, to_date(lit("1970-01-01"))).cast(DoubleType)
    case TimestampType | TimestampNTZType =>
      unix_micros(c.cast(TimestampType)).cast(DoubleType)
    case other => throw new IllegalArgumentException(
      s"zorder: unsupported dimension type ${other.simpleString}")
  }

  /** The interleaved z-value column for `df`'s rows over `zCols`.
    * One metadata-bounded aggregate job computes global min/max per
    * dimension; the returned Column is pure row-local arithmetic.
    * `bitsPerCol` defaults to as many bits as fit 63 total.
    */
  def zColumn(df: DataFrame, zCols: Seq[String],
              bitsPerColOpt: Option[Int] = None): Column = {
    require(zCols.nonEmpty, "zorder: name at least one column")
    require(zCols.size <= 8, s"zorder: at most 8 dimensions, got ${zCols.size}")
    val n = zCols.size
    val bits = bitsPerColOpt.getOrElse(math.min(16, 63 / n))
    require(bits >= 1 && bits * n <= 63,
      s"zorder: $n dims × $bits bits exceeds 63")
    val schema = df.schema
    zCols.foreach(c => require(schema.exists(_.name == c),
      s"zorder: column $c not in ${schema.map(_.name).mkString(",")}"))
    val doubles = zCols.map(c =>
      asDouble(col(c), schema(schema.fieldIndex(c)).dataType))
    // one-row global aggregate (driver collect: 2·n doubles)
    val aggCols = doubles.zipWithIndex.flatMap { case (d, i) =>
      Seq(min(d).as(s"mn$i"), max(d).as(s"mx$i"))
    }
    val mm = df.agg(aggCols.head, aggCols.tail: _*).head()
    val top = (1L << bits) - 1
    val buckets = doubles.zipWithIndex.map { case (d, i) =>
      val mnv = mm.getAs[Any](s"mn$i")
      val mxv = mm.getAs[Any](s"mx$i")
      (mnv, mxv) match {
        case (mn: java.lang.Double, mx: java.lang.Double)
            if mx > mn && !mn.isNaN && !mx.isNaN
              && !mn.isInfinite && !mx.isInfinite =>
          // clamp handles FP edge at the max; nulls → bucket 0
          coalesce(least(greatest(
            floor((d - lit(mn.doubleValue())) /
              lit(mx.doubleValue() - mn.doubleValue()) * lit(top.toDouble))
              .cast(LongType),
            lit(0L)), lit(top)), lit(0L))
        case _ => lit(0L) // constant/empty/non-finite dimension
      }
    }
    // interleave: output bit (b·n + i) ← dimension i's bit b — low
    // bits of every dimension pack lowest, the classic Morton layout
    (for (b <- 0 until bits; i <- 0 until n) yield
      shiftleft(shiftright(buckets(i), b).bitwiseAND(lit(1L)),
        b * n + i)
    ).reduce((a, c) => a.bitwiseOR(c))
  }
}
