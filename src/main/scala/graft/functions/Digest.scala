package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Sampling

/** Order-independent table content digests — the cross-engine data
  * integrity audit: digest(table) is the wrapping mod-2^64 sum of a
  * per-row md5 hash over a canonical column encoding, so two copies of
  * a table match iff their digests match (w.h.p.), REGARDLESS of row
  * order, partitioning, file layout, or engine (q155's oracle replays
  * the digest in SQL). The standard tool for certifying a 100 TB
  * migration / replication / engine swap without shipping either copy:
  * each side computes one number.
  *
  * Scale design: the row hash is a narrow codegen'd projection; the
  * sum is fully associative+commutative, so it combines map-side and
  * ships ONE partial per partition through a single (optionally
  * grouped) aggregate exchange. Sums ride decimal(38,0) — a 10^12-row
  * table's pre-mod sum is ~10^30, exact — and wrap to a signed long
  * via the q51 mod-2^64 convention. Any changed, missing, or
  * duplicated row flips the digest with probability 1 − 2^−60; a
  * digest CANNOT say WHICH rows differ — drill down with per-group
  * digests (groupCols), then [[graft.sources.TableStore.readWhere]]
  * on the disagreeing group.
  */
object Digest {

  /** Column types with an engine-canonical string form. Floats and
    * decimals are rejected loudly (their string renderings differ
    * across engines — '1.0' vs '1.00' vs '1e0'); timestamps/dates are
    * rejected because zone/format conventions differ: project them to
    * epoch integers first (`unix_micros`, the q43 convention).
    */
  private def canonical(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         BooleanType => true
    case _ => false
  }

  /** The 60-bit per-row hash: md5 over "salt:" + the -joined
    * canonical column values, each NULL-coalesced to the
    * [[graft.operators.Sampling.NullKey]] sentinel BEFORE the join
    * (concat_ws drops nulls silently — the sentinel keeps (NULL, "x")
    * ≠ ("x", NULL)).
    */
  def rowHash(cols: Seq[Column], salt: String): Column =
    Sampling.hashBucket(
      concat_ws("",
        cols.map(c => coalesce(c.cast("string"),
          lit(Sampling.NullKey))): _*),
      salt, hexChars = 15)

  /** Per-group (or whole-table, groupCols = Nil) content digest:
    * (groupCols…, n_rows, digest). `cols` is the audited column list
    * — ORDER MATTERS (it is part of the canonical encoding; use the
    * same list on both sides of a comparison).
    */
  def tableDigest(df: DataFrame, cols: Seq[String],
                  groupCols: Seq[String] = Nil,
                  salt: String = "digest"): DataFrame = {
    require(cols.nonEmpty, "digest needs at least one column")
    val schema = df.schema
    cols.foreach { c =>
      val f = schema(c)
      require(canonical(f.dataType),
        s"digest column '$c' has non-canonical type ${f.dataType}; " +
          "only integral/string/boolean columns digest portably " +
          "(project floats/timestamps to integers first)")
    }
    val D = "decimal(38,0)"
    val M = "18446744073709551616" // 2^64
    val H = "9223372036854775808" // 2^63
    val hashed = df.withColumn("__h",
      rowHash(cols.map(col), salt).cast(D))
    val agged =
      if (groupCols.isEmpty) hashed.agg(count(lit(1)).as("n_rows"),
        sum(col("__h")).as("__s"))
      else hashed.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_rows"), sum(col("__h")).as("__s"))
    agged
      .withColumn("__m", expr(s"pmod(__s, CAST('$M' AS $D))"))
      .withColumn("digest",
        when(col("__m") >= expr(s"CAST('$H' AS $D)"),
          col("__m") - expr(s"CAST('$M' AS $D)"))
          .otherwise(col("__m")).cast("long"))
      .drop("__s", "__m")
  }
}
