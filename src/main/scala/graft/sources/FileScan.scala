package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Parquet scans over a file set the caller already knows — a
  * TableStore manifest's files, a [[graft.Tables]] table resolved once:
  * the file index serves every root path its statuses from memory, so
  * building the frame globs, lists and stats nothing (not even Spark's
  * parallel-listing job past 32 paths). Everything downstream —
  * partition pruning, `_metadata`, `input_file_name`, cache lookups —
  * behaves as on any parquet read.
  */
object FileScan {

  /** A file index rooted at `roots`' paths, each served its statuses
    * from memory. A file root lists itself; a directory root lists the
    * files under it.
    */
  def index(spark: SparkSession, roots: Seq[(Path, Seq[FileStatus])],
            options: Map[String, String] = Map.empty,
            schema: Option[StructType] = None,
            spec: Option[PartitionSpec] = None): InMemoryFileIndex = {
    val leaves = roots.map { case (p, files) => p -> files.toArray }.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        leaves.get(p)
      def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    new InMemoryFileIndex(spark, roots.map(_._1), options, schema, cache,
      spec, None)
  }

  /** The parquet relation over `index`, as a directory read builds it:
    * the data fields nullable, then the partition columns.
    */
  def parquet(spark: SparkSession, index: InMemoryFileIndex,
              dataSchema: StructType,
              partitionSchema: StructType = new StructType()): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      nullable(dataSchema), None, new ParquetFileFormat, Map.empty)(spark))

  /** `s` with every field nullable, recursively — the schema a parquet
    * scan reports.
    */
  def nullable(s: StructType): StructType =
    nullableType(s).asInstanceOf[StructType]

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case a: ArrayType =>
      ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType => MapType(nullableType(m.keyType),
      nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }
}
