package graft.operators

import graft.SparkSpec

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark joins fast and loose"),
    (2L, "spark spark spark everywhere"),
    (3L, "completely unrelated words here"),
    (4L, "fast fast spark")
  ).toDF("doc_id", "text")

  /** Reference BM25 computed independently (plain Scala, same
    * quantization contract) for the fixture above.
    */
  private def referenceScores(query: String, k1: Double = 1.2,
                              b: Double = 0.75): Map[Long, Long] = {
    val docs = Map(
      1L -> "spark joins fast and loose",
      2L -> "spark spark spark everywhere",
      3L -> "completely unrelated words here",
      4L -> "fast fast spark"
    ).view.mapValues(_.split(' ').toSeq).toMap
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.size).sum.toDouble / n
    val terms = query.split(' ').distinct
    docs.flatMap { case (id, toks) =>
      val dl = toks.size.toDouble
      val cs = terms.flatMap { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) None
        else {
          val df = docs.values.count(_.contains(t)).toDouble
          val idfQ = math.floor(
            1000000.0 * math.log((n - df + 0.5) / (df + 0.5)))
          val tfn = (tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * dl / avgdl))
          Some(math.floor(idfQ * tfn).toLong)
        }
      }
      if (cs.isEmpty) None else Some(id -> cs.sum)
    }
  }

  test("topK matches an independent BM25 computation, quantized exactly") {
    val got = Bm25.topK(corpus, "doc_id", "text",
      Seq(0L -> "spark fast"), k = 10)
      .select($"doc_id", $"score_q").as[(Long, Long)].collect().toMap
    val want = referenceScores("spark fast")
    assert(got == want)
    assert(!got.contains(3L)) // shares no term -> absent, not zero
  }

  test("ranking is (score desc, doc_id) with k enforced") {
    val rows = Bm25.topK(corpus, "doc_id", "text",
      Seq(0L -> "spark fast", 1L -> "unrelated"), k = 2)
      .select($"qid", $"doc_id", $"rk".cast("long"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(rows.count(_._1 == 0L) == 2) // k caps query 0's hits
    assert(rows.filter(_._1 == 1L).map(_._2) == Seq(3L))
    val expectTop = referenceScores("spark fast").toSeq
      .sortBy { case (id, s) => (-s, id) }.take(2).map(_._1)
    assert(rows.filter(_._1 == 0L).sortBy(_._3).map(_._2) == expectTop)
  }

  test("margin guard trips on an impossible threshold; empty query rejected") {
    intercept[IllegalStateException] {
      Bm25.topK(corpus, "doc_id", "text", Seq(0L -> "spark"),
        k = 1, minQuantMargin = Some(1.0))
    }
    intercept[IllegalArgumentException] {
      Bm25.topK(corpus, "doc_id", "text", Seq.empty, k = 1)
    }
  }
}
