package graft
import org.apache.spark.sql.SparkSession

/** What the harness mains (Bench, BenchOne, PlanDump, ScaleCheck,
  * Verify, VerifyOne) share: the session they run queries on, the
  * per-query cache release, and the JSON string escape of the oracle
  * dumps.
  */
object Harness {

  /** `local[cpus]` with as many shuffle partitions as cores
    * (`SPARK_GRAFT_CPUS`, else `defaultCpus`), UTC session time, no UI,
    * and the TIMESTAMP(NANOS) parquet guard: Spark 4 otherwise refuses
    * that type outright; current testdata is TIMESTAMP(MICROS), read as
    * TIMESTAMP_NTZ, so the flag is a no-op there.
    */
  def session(defaultCpus: Int, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = graft.plans.GraftExtensions.builder(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Drop the operator pin registries ([[Engine.releaseAll]]) and the
    * cached and localCheckpoint blocks a query left behind, so one long
    * run accumulates neither storage-memory pressure nor registry
    * entries holding every pinned frame and its plan.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    Engine.releaseAll()
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the reader's json.load fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
