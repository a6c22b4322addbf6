package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import graft.sources.FileScan
import graft.sources.FileScan.{listed, summary}

/** Loaders for the driver's synthetic TPC-H-ish testdata (TESTDATA.md).
  * A "table" is `<name>.parquet` under the scale-factor directory: one
  * parquet file, or a flat directory of part files (ScaleCheck's
  * Spark-written 10× fixture).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table resolved on the driver: the local listing it was resolved
    * from — (name, size, mtime) of each file a Spark listing keeps,
    * summary files included, sorted by name — the index root, its data
    * files' statuses, and the schema Spark infers for them.
    */
  private final case class Resolved(listing: Seq[(String, Long, Long)],
                                    root: Path, files: Seq[FileStatus],
                                    schema: StructType)

  /** Keyed on path and the session's parquet conversion flags; an entry
    * serves only while its listing matches the files on disk.
    */
  private val resolved =
    new ConcurrentHashMap[(String, Seq[Boolean]), Resolved]()

  /** The table `name` under `sfDir`, as `spark.read.parquet` reads it.
    *
    * A single file or a flat directory is resolved once on the driver
    * with no Spark job — Spark's schema inference schedules one even for
    * a single footer, ~0.3 s of driver time per table at start-up. The
    * schema comes from the one footer Spark's own inference reads, and
    * every call builds its frame from the cached statuses: no glob and
    * no Hadoop listing, only a local stat of each file to check the
    * entry. A rewritten file (new size or mtime), or a session that
    * converts parquet types differently, resolves again. Any other
    * layout (`k=v` partition directories, an empty directory, a
    * non-local path) keeps Spark's own inference.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    listing(path) match {
      case None => spark.read.parquet(path)
      case Some(l) =>
        val key = (path, conversionFlags(spark))
        val hit = resolved.get(key)
        val r =
          if (hit != null && hit.listing == l) hit
          else {
            val fresh = resolve(spark, path, l, key._2)
            resolved.put(key, fresh)
            fresh
          }
        FileScan.parquet(spark,
          FileScan.index(spark, Seq(r.root -> r.files)), r.schema)
    }
  }

  /** The local listing of the table at `path` (see [[Resolved]]), or
    * None unless it is a local file or a flat directory holding at least
    * one data file.
    */
  private def listing(path: String): Option[Seq[(String, Long, Long)]] = {
    val uri = new Path(path).toUri
    val f = new java.io.File(uri.getPath)
    val kids =
      if (uri.getScheme != null && uri.getScheme != "file") None
      else if (f.isFile) Some(Seq(f))
      else Option(f.listFiles()).map(_.toSeq)
    kids.map(_.filter(k => listed(k.getName)))
      .filter(ks => ks.forall(_.isFile) && ks.exists(k => !summary(k.getName)))
      .map(_.map(k => (k.getName, k.length, k.lastModified)).sortBy(_._1))
  }

  /** Resolve the table at `path` as Spark's inference does with
    * `mergeSchema` off: list it as Spark's file index would, read the
    * footer of `_common_metadata`, else `_metadata`, else the first data
    * file, and convert it as `ParquetFileFormat.readSchemaFromFooter`
    * does under `flags` (Spark's row-metadata schema if the footer has
    * one).
    */
  private def resolve(spark: SparkSession, path: String,
                      l: Seq[(String, Long, Long)],
                      flags: Seq[Boolean]): Resolved = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.makeQualified(p)
    val (summaries, data) = fs.listStatus(root).toSeq
      .filter(s => listed(s.getPath.getName))
      .sortBy(_.getPath.toString)
      .partition(s => summary(s.getPath.getName))
    val footerOf = Seq("_common_metadata", "_metadata")
      .flatMap(n => summaries.find(_.getPath.getName == n))
      .headOption.getOrElse(data.head)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(footerOf, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val Seq(binary, int96, ntz, nanos, unknown) = flags
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(footerOf.getPath, footer),
      new ParquetToSparkSchemaConverter(assumeBinaryIsString = binary,
        assumeInt96IsTimestamp = int96, inferTimestampNTZ = ntz,
        nanosAsLong = nanos, respectUnknownTypeAnnotation = unknown))
    Resolved(l, root, data, schema)
  }

  /** The session flags Spark's parquet schema inference converts under
    * (`ParquetFileFormat.mergeSchemasInParallel`), in [[resolve]]'s
    * order.
    */
  private def conversionFlags(spark: SparkSession): Seq[Boolean] = {
    val c = spark.sessionState.conf
    Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** Fail fast if `events.parquet`'s `ts` physical type regresses to
    * TIMESTAMP(NANOS). The session builders keep
    * `spark.sql.legacy.parquet.nanosAsLong=true` as a read guard, but
    * under that flag a NANOS file comes back as a LONG of nanoseconds —
    * and the `unix_micros(cast(ts as timestamp))` projections
    * (q43/q44/q46/q67) would then interpret nanos as SECONDS: silently
    * wrong values caught only by the downstream oracle hash. This
    * schema-only check (parquet footer, no data scan) turns that into
    * a loud startup failure naming the sites to swap.
    */
  def assertEventsTsReadable(spark: SparkSession, sfDir: String): Unit = {
    val p = new java.io.File(s"$sfDir/events.parquet")
    if (p.exists()) {
      val dt = t(spark, sfDir, "events").schema("ts").dataType
      require(dt.typeName.startsWith("timestamp"),
        s"events.parquet ts reads as $dt, not a timestamp: the dataset " +
          "likely regressed to TIMESTAMP(NANOS) (read as long nanos " +
          "under the nanosAsLong guard). Swap the four micros " +
          "projections (q43/q44/q46/q67 + SessionizeSpec) to `ts div " +
          "1000` before trusting any event-time result.")
    }
  }
}
