package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (plans/rNN/<query>_{before,after}
  * .txt). Usage: PlanDump <sfDir> <outDir> <suffix> <name> [<name>...]
  * — writes `<outDir>/<name>_<suffix>.txt` per query. `all` as the
  * single name dumps every registered query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val requested = args.drop(3).toSet
    val spark = Harness.session(defaultCpus = 8, logLevel = "ERROR")
    new java.io.File(outDir).mkdirs()
    val names =
      if (requested == Set("all")) SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted.filter(requested)
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.err.println(s"[plandump] $name ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      } finally Harness.releaseCaches(spark)
    }
    spark.stop()
  }
}
