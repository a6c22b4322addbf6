package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

/** File-backed sources standing in for the reference's fetch layer
  * (SURVEY.md §2.1 S1-S12). The engine's contract: every external feed
  * lands as files; reading them is a declarative scan so Catalyst can
  * prune columns and push filters.
  */
object Sources {

  /** S10 — the inter-task "table scan": all JSON blobs under a prefix,
    * with a declared schema (never inferred twice; schema drift fails
    * fast, matching the reference's P2 projection-or-die).
    * multiLine=false: one JSON object per line (JSONL) — the splittable,
    * scale-correct layout.
    */
  def jsonTable(spark: SparkSession, schema: StructType,
                pathGlob: String): DataFrame =
    spark.read.schema(schema).json(pathGlob)

  /** [[jsonTable]] with corrupt-record capture — scraped feeds contain
    * malformed rows as a matter of course, and the default PERMISSIVE
    * mode silently nulls them into the data. Rows that fail to parse
    * come back with their raw line in `corruptCol` and every schema
    * column null; split on `corruptCol.isNotNull` to quarantine them
    * (count, alert, sink to a dead-letter dir) instead of either
    * crashing the job (FAILFAST) or polluting the table (DROPMALFORMED
    * loses the evidence). One scan serves both halves.
    */
  def jsonTableQuarantined(spark: SparkSession, schema: StructType,
                           pathGlob: String,
                           corruptCol: String = "_corrupt_record")
      : (DataFrame, DataFrame) = {
    // text scan + from_json rather than the json reader: Spark refuses
    // scans whose referenced columns are ONLY the internal corrupt
    // column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), which is exactly what
    // the quarantine branch needs — parsing in a projection has no such
    // restriction and keeps both branches on one splittable text scan
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(corruptCol,
        org.apache.spark.sql.types.StringType, nullable = true))
    val parsed = spark.read.text(pathGlob).select(
      col("value"),
      from_json(col("value"), withCorrupt,
        Map("columnNameOfCorruptRecord" -> corruptCol)).as("p"))
    val good = parsed.filter(col(s"p.`$corruptCol`").isNull)
      .select(schema.fieldNames.map(n => col(s"p.`$n`")).toIndexedSeq: _*)
    val quarantine = parsed.filter(col(s"p.`$corruptCol`").isNotNull)
      .select(col("value").as("raw"))
    (good, quarantine)
  }

  /** CSV counterpart of [[jsonTableQuarantined]]: headerless,
    * schema-declared delimited files (the splittable, scale-correct
    * layout — a header row per file is a driver-side convenience the
    * declared schema replaces, and headerless parts concatenate/split
    * cleanly) under the same dead-letter contract: malformed lines
    * (type mismatches, extra columns, unterminated quotes) come back
    * raw in the quarantine frame instead of silently nulling into the
    * data (PERMISSIVE default) or vanishing (DROPMALFORMED). Same
    * one-splittable-text-scan trick — `from_csv` in a projection
    * dodges the reader's corrupt-column-only restriction and serves
    * both halves from one scan. NOTE `from_csv` is stricter than the
    * file reader: a SHORT
    * row (missing trailing fields) quarantines too, where the file
    * reader would pad with nulls — a schema-width mismatch is treated
    * as evidence, not data (spec-pinned).
    */
  def csvTableQuarantined(spark: SparkSession, schema: StructType,
                          pathGlob: String, sep: String = ",",
                          corruptCol: String = "_corrupt_record")
      : (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(corruptCol,
        org.apache.spark.sql.types.StringType, nullable = true))
    val parsed = spark.read.text(pathGlob).select(
      col("value"),
      from_csv(col("value"), withCorrupt,
        Map("sep" -> sep, "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> corruptCol)).as("p"))
    val good = parsed.filter(col(s"p.`$corruptCol`").isNull)
      .select(schema.fieldNames.map(n => col(s"p.`$n`")).toIndexedSeq: _*)
    val quarantine = parsed.filter(col(s"p.`$corruptCol`").isNotNull)
      .select(col("value").as("raw"))
    (good, quarantine)
  }

  /** ORC table scan — the second columnar format next to parquet
    * (ORC ships in Spark's core jars; predicate pushdown, column
    * pruning and partition pruning all apply exactly as for parquet).
    * Schema declared, never inferred twice — the same
    * projection-or-die stance as [[jsonTable]].
    */
  def orcTable(spark: SparkSession, schema: StructType,
               pathGlob: String): DataFrame =
    spark.read.schema(schema).orc(pathGlob)

  /** JSON documents where each FILE is one array of records (the
    * reference's GCS blob layout, combine_broker_listings.py:67-75).
    */
  def jsonArrayTable(spark: SparkSession, schema: StructType,
                     pathGlob: String): DataFrame =
    spark.read.schema(schema).option("multiLine", true).json(pathGlob)

  /** S12 — binary blob source (PDFs, images): path, length, content. */
  def binaryTable(spark: SparkSession, pathGlob: String,
                  suffix: Option[String] = None): DataFrame = {
    val df = spark.read.format("binaryFile").load(pathGlob)
    suffix.fold(df)(s => df.filter(col("path").endsWith(s)))
  }

  /** S11 — GeoJSON FeatureCollection: one row per feature with geometry
    * type/coordinates (raw json string) + properties map.
    */
  def geoJsonFeatures(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", true)
      .json(path)
    val feats = raw.select(explode(col("features")).as("f"))
    // mixed geometry types (Point next to Polygon — the normal case
    // for real feature collections) make schema inference collapse
    // `coordinates` to StringType, and to_json(string) is an
    // AnalysisException: only re-encode when a structured type was
    // actually inferred
    val coordsType = feats.select(col("f.geometry.coordinates"))
      .schema.head.dataType
    val coordsJson = coordsType match {
      case org.apache.spark.sql.types.StringType =>
        col("f.geometry.coordinates")
      case _ => to_json(col("f.geometry.coordinates"))
    }
    feats.select(
      col("f.geometry.type").as("geom_type"),
      coordsJson.as("coordinates_json"),
      col("f.properties.*"))
  }
}
