package graft

import graft.operators.Dedup

/** The harness mains' per-query release reaches the operator families'
  * pin registries, not only the session's caches: a registry entry
  * outlives its blocks and keeps the DataFrame (and its plan) alive for
  * the rest of a Bench, Verify or ScaleCheck run.
  */
class HarnessSpec extends SparkSpec {
  import spark.implicits._

  test("releaseCaches empties the operator pin registries") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "entirely different content to keep the fixture honest")
    ).toDF("doc_id", "text")
    // Dedup's private registry, read reflectively (no accessor)
    val field = Dedup.getClass.getDeclaredFields
      .find(f => f.getName == "pinned" || f.getName.endsWith("$$pinned"))
      .getOrElse(fail("Dedup has no pinned field"))
    field.setAccessible(true)
    def pinned = field.get(Dedup)
      .asInstanceOf[scala.collection.mutable.ListBuffer[_]]
    Dedup.lshCandidatePairs(docs, "doc_id", "text").count()
    assert(pinned.nonEmpty,
      "fixture pinned nothing — the release assertion would be vacuous")
    Harness.releaseCaches(spark)
    assert(pinned.isEmpty, s"${pinned.size} Dedup pins survived")
  }
}
