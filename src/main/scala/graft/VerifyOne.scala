package graft

/** Single-query variant of [[Verify]] for fast local iteration on a new
  * oracle: writes only the named queries' parquet (into an outDir that
  * may already hold the rest) and a filtered oracle_one.json. Usage:
  * VerifyOne <sfDir> <outDir> <name> [<name> ...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val names = args.drop(2).toSet
    val spark = Harness.session(defaultCpus = 4)
    Verify.dump(spark, sfDir, outDir, names, "oracle_one.json", trace = true)
    spark.stop()
  }
}
