package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // docs where label correlates with bag-of-words ("spam spam" vs
  // prose) so GD has signal; one empty-text doc to pin the "no tokens
  // -> excluded from training and scoring" contract
  private val docs = Seq(
    (1L, "buy cheap pills now buy cheap pills now buy now", 0L),
    (2L, "the cat sat on the mat with a hat", 1L),
    (3L, "cheap pills cheap pills buy buy buy now now", 0L),
    (4L, "the dog ran over the hill with the ball", 1L),
    (5L, "pills now pills now cheap buy cheap", 0L),
    (6L, "the sun rose over the quiet green field", 1L),
    (7L, "   ", 1L)
  ).toDF("doc_id", "text", "y")

  private val cfg = Classifier.Config(dim = 32, iters = 4)

  /** Driver-side BigInt reference of the exact training contract:
    * md5-bucket features, hard sigmoid, truncating division, halving
    * schedule.
    */
  private def reference(rows: Seq[(Long, String, Long)],
                        c: Classifier.Config)
      : Map[Long, (Long, Long, Long, Long)] = {
    def norm(t: String) =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").replaceAll("\\s+", " ").trim
    def bucket(w: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${c.salt}:$w".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % c.dim).toInt
    }
    def tdiv(a: BigInt, b: BigInt): BigInt =
      a.abs / b * (if (a.signum < 0) -1 else 1)
    val feats = rows.flatMap { case (id, text, y) =>
      val toks = norm(text).split(" ").filter(_.nonEmpty)
      if (toks.isEmpty) None
      else Some((id, y, toks.groupBy(bucket).map { case (b, ws) =>
        (b, ws.length.toLong) }))
    }
    val n = BigInt(feats.size)
    val s = BigInt(c.scale)
    var w = Vector.fill(c.dim)(BigInt(0)); var bias = BigInt(0)
    def sig(z: BigInt) = (s / 2 + tdiv(z, 4)).max(0).min(s)
    for (it <- 0 until c.iters) {
      val g = Array.fill(c.dim)(BigInt(0)); var gb = BigInt(0)
      feats.foreach { case (_, y, fc) =>
        val z = bias + fc.map { case (b, cnt) => w(b) * cnt }.sum
        val err = sig(z) - s * y
        fc.foreach { case (b, cnt) => g(b) += err * cnt }
        gb += err
      }
      val den = n << (it + 1)
      w = w.zipWithIndex.map { case (x, b) => x - tdiv(g(b), den) }
      bias -= tdiv(gb, den)
    }
    feats.map { case (id, y, fc) =>
      val z = bias + fc.map { case (b, cnt) => w(b) * cnt }.sum
      val p = sig(z)
      (id, (y, z.toLong, p.toLong,
        if (p * 2 > s) 1L else 0L))
    }.toMap
  }

  test("trainAndScore matches the BigInt reference exactly") {
    val got = Classifier.trainAndScore(docs, "doc_id", "text", $"y" === 1L,
      cfg.copy(salt = "clf"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, y, z, p, pred) => id -> (y, z, p, pred) }.toMap
    val want = reference(
      docs.as[(Long, String, Long)].collect().toSeq, cfg)
    assert(got == want, s"\ngot  $got\nwant $want")
    assert(!got.contains(7L)) // empty text: no features, no score
    // the model learned: predictions beat the majority class
    val acc = got.values.count { case (y, _, _, pred) => y == pred }
    assert(acc >= 5, s"acc $acc of ${got.size}")
  }

  test("training is partitioning-invariant") {
    val a = Classifier.trainAndScore(docs.repartition(7), "doc_id",
      "text", $"y" === 1L, cfg).orderBy($"id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val b = Classifier.trainAndScore(docs.repartition(3), "doc_id",
      "text", $"y" === 1L, cfg).orderBy($"id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("scale shape: broadcast weights, id-partitioned feats, no window") {
    // fresh values so test 1's persisted frame can't be cache-reused
    // into this plan (InMemoryRelation would hide the exchange shape)
    val fresh = docs.withColumn("text", concat($"text", lit(" zz")))
    val feats = Classifier.hashedFeatures(fresh, "doc_id", "text",
      $"y" === 1L, cfg)
    // ONE exchange for the whole feature build (the id repartition);
    // the (id, y, bucket) count rides it — partial and final
    // HashAggregate collapse onto the repartition's partitioning
    val fplan = feats.queryExecution.executedPlan.toString
    assert(fplan.split("Exchange hashpartitioning").length - 1 == 1, fplan)
    val scored = Classifier.score(feats, Array.fill(cfg.dim)(1L), 0L, cfg)
    val splan = scored.queryExecution.executedPlan.toString
    assert(splan.contains("BroadcastHashJoin") ||
      splan.contains("BroadcastNestedLoopJoin"), splan)
    assert(!splan.contains("SortMergeJoin") &&
      !splan.contains("ShuffledHashJoin"), splan)
    assert(!splan.contains("Window"), splan)
  }
}
