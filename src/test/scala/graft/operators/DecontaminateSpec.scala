package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")

  test("overlap fractions: exact, partial, none") {
    val corpus = Seq(
      (1L, "a b c d"), // identical → all 3 distinct 2-shingles hit
      (2L, "a b x"),   // {"a b", "b x"} → 1 of 2
      (3L, "x y z")    // no overlap
    ).toDF("doc_id", "text")
    val out = Decontaminate.overlap(corpus, bench, "doc_id", "text",
        shingleN = 2, flagFrac = 0.5)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("contamination_frac") == 1.0)
    assert(out(0).getAs[Long]("flagged") == 1L)
    assert(out(1).getAs[Long]("n_shingles") == 2L)
    assert(out(1).getAs[Long]("n_contaminated") == 1L)
    assert(out(1).getAs[Double]("contamination_frac") == 0.5)
    assert(out(1).getAs[Long]("flagged") == 1L)
    assert(out(2).getAs[Double]("contamination_frac") == 0.0)
    assert(out(2).getAs[Long]("flagged") == 0L)
  }

  test("overlap counts DISTINCT shingles (repeats in the doc count once)") {
    val corpus = Seq((1L, "a b a b")).toDF("doc_id", "text")
    // distinct 2-shingles {"a b", "b a"}; only "a b" is in the benchmark
    val r = Decontaminate.overlap(corpus, bench, "doc_id", "text",
      shingleN = 2, flagFrac = 0.5).collect().head
    assert(r.getAs[Long]("n_shingles") == 2L)
    assert(r.getAs[Long]("n_contaminated") == 1L)
  }

  test("plan: benchmark broadcasts; corpus never shuffles on the shingle") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Decontaminate.overlap(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleN = 3, flagFrac = 0.05)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan)
    // the ONLY shingle-keyed exchange is the small benchmark union's
    // distinct; the corpus side moves on doc_id alone
    val shExchanges = "hashpartitioning\\(sh".r.findAllIn(plan).size
    assert(shExchanges == 1,
      s"corpus must not be redistributed by shingle:\n$plan")
  }

  private val vecs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def corpusV = vecs.filter(pmod(col("vec_id"), lit(50)) =!= 0)
  private def benchV = vecs.filter(pmod(col("vec_id"), lit(50)) === 0)

  test("semanticOverlap == driver-side brute-force reference") {
    val got = Decontaminate
      .semanticOverlap(corpusV, benchV, "vec_id", "embedding", 0.3)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    def vecsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val bv = vecsOf(benchV)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      d / (na * nb)
    }
    val want = vecsOf(corpusV).flatMap { case (id, cv) =>
      val sims = bv.map(b => cos(cv, b._2)).filter(_ >= 0.3)
      if (sims.isEmpty) None else Some(id -> (sims.size.toLong, sims.max))
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, (n, s)) =>
      assert(n == want(id)._1, s"vec $id hit count")
      assert(math.abs(s - want(id)._2) < 1e-12, s"vec $id max_sim")
    }
  }

  test("semantic plan: bench broadcasts; ONE doc-keyed exchange; cosine once") {
    val out = Decontaminate
      .semanticOverlap(corpusV, benchV, "vec_id", "embedding", 0.3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert("hashpartitioning\\(".r.findAllIn(plan).size == 1,
      s"only the per-doc aggregate may exchange:\n$plan")
    // filterOnce: the cosine kernel appears EXACTLY once — not
    // re-evaluated in a pushed-down filter duplicate, and not silently
    // rerouted off the native expression entirely
    assert("graft_cosine".r.findAllIn(plan).size == 1, plan)
  }
}
