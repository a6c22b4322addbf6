package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(defaultCpus = 4)
    Tables.assertEventsTsReadable(spark, sfDir)
    dump(spark, sfDir, outDir, _ => true, "oracle_sql.json")
    spark.stop()
  }

  /** Write each selected query's result to `<outDir>/<name>` (parquet)
    * and the selected oracle SQL to `<outDir>/<jsonName>`. A failing
    * query is reported on stderr and skipped — its parquet dir stays
    * missing, so the oracle compare reports it. Shared with
    * [[VerifyOne]].
    */
  private[graft] def dump(spark: SparkSession, sfDir: String,
                          outDir: String, selected: String => Boolean,
                          jsonName: String, trace: Boolean = false): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          if (trace) e.printStackTrace()
        }
        finally Harness.releaseCaches(spark)
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) =>
        s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}"
      }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/$jsonName"), json)
  }
}
