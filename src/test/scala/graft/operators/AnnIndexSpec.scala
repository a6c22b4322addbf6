package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted index artifacts: the differential contract is
  * save → load → serve ≡ the inline-trained entry point on the same
  * fixture (the q100-q102 shapes), and a PINNED generation re-serves
  * the original results after a retrain has been committed on top.
  */
class AnnIndexSpec extends SparkSpec {

  private val (dim, m, ksub, k) = (64, 4, 8, 10)
  private val (kCoarse, nprobe) = (6, 2)

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def queries = emb.filter(col("vec_id") < 5)

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.select(col("qid").cast("long"), col("id").cast("long"),
        col("dist"), col("rk"))
      .orderBy(col("qid"), col("rk"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  private def rowsIvf(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.select(col("qid").cast("long"), col("nid").cast("long"),
        col("sim").cast("double"), col("rk").cast("long"))
      .orderBy(col("qid"), col("rk"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_idx").toString)

  test("ivf-pq: save → load → serve == inline-trained (exact rows)") {
    val store = freshStore()
    val idx = AnnIndex.trainIvfPq(emb, "vec_id", "embedding",
      dim, m, ksub, kCoarse)
    AnnIndex.save(store, "ix", idx)
    val served = AnnIndex.ivfPqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k, nprobe, AnnIndex.load(store, "ix"))
    val inline = Similarity.ivfPqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", dim, m, ksub, k, kCoarse = kCoarse, nprobe = nprobe)
    assert(rows(served) == rows(inline))
  }

  test("ivf-pq residual: save → load → serve == inline-trained") {
    val store = freshStore()
    val idx = AnnIndex.trainIvfPqResidual(emb, "vec_id", "embedding",
      dim, m, ksub, kCoarse)
    AnnIndex.save(store, "ix", idx)
    val served = AnnIndex.ivfPqResidualTopK(queries, emb, "vec_id",
      "vec_id", "embedding", k, nprobe, AnnIndex.load(store, "ix"))
    val inline = Similarity.ivfPqTopKResidual(queries, emb, "vec_id",
      "vec_id", "embedding", dim, m, ksub, k, kCoarse = kCoarse,
      nprobe = nprobe)
    assert(rows(served) == rows(inline))
  }

  test("pq: save → load → serve == inline train+encode+rank") {
    val store = freshStore()
    AnnIndex.save(store, "ix",
      AnnIndex.trainPq(emb, "vec_id", "embedding", dim, m, ksub))
    val served = AnnIndex.pqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k, AnnIndex.load(store, "ix"))
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", dim, m,
      ksub, 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", dim, m, cb)
    val inline = Similarity.pqTopK(queries, codes, cb, "vec_id",
      "embedding", dim, m, ksub, k)
    assert(rows(served) == rows(inline))
  }

  test("ivf (coarse k-means): served routing == ivfTopKKmeans inline") {
    val store = freshStore()
    AnnIndex.save(store, "ix",
      AnnIndex.trainIvf(emb, "vec_id", "embedding", kCoarse, iters = 3))
    val served = AnnIndex.ivfTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k, nprobe, AnnIndex.load(store, "ix"))
    val inline = Similarity.ivfTopKKmeans(queries, emb, "vec_id",
      "vec_id", "embedding", k, kCentroids = kCoarse, trainIters = 3,
      nprobe = nprobe)
    assert(rowsIvf(served) == rowsIvf(inline))
  }

  test("lsh: saved planes == seeded generator planes, same top-k") {
    val store = freshStore()
    AnnIndex.save(store, "ix",
      AnnIndex.trainLsh(dim, planes = 16, bandBits = 4, seed = 42L))
    val loaded = AnnIndex.load(store, "ix")
    // the artifact IS the generator output, exactly
    val hp = Similarity.hyperplanes(16, dim, 42L)
    assert(loaded.planes.get.map(_.toSeq).toSeq == hp.map(_.toSeq).toSeq)
    val served = AnnIndex.lshTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k, loaded)
    val inline = Similarity.lshTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k, dim, planes = 16, bandBits = 4, seed = 42L)
    assert(rowsIvf(served) == rowsIvf(inline))
  }

  test("generation pinning: loadAt re-serves the ORIGINAL index after a retrain") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_idx").toString,
      retainGenerations = 4)
    val gen1 = AnnIndex.save(store, "ix",
      AnnIndex.trainIvfPq(emb, "vec_id", "embedding", dim, m, ksub,
        kCoarse))
    val want = rows(AnnIndex.ivfPqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k, nprobe, AnnIndex.load(store, "ix")))
    // retrain on a skewed subset — different centroids/codebook — and
    // commit over the live generation
    val gen2 = AnnIndex.save(store, "ix",
      AnnIndex.trainIvfPq(emb.filter(col("vec_id") % 3 === 0), "vec_id",
        "embedding", dim, m, ksub, kCoarse))
    assert(gen2 > gen1)
    val live = rows(AnnIndex.ivfPqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k, nprobe, AnnIndex.load(store, "ix")))
    val pinned = rows(AnnIndex.ivfPqTopK(queries, emb, "vec_id",
      "vec_id", "embedding", k, nprobe,
      AnnIndex.loadAt(store, "ix", gen1)))
    assert(pinned == want, "pinned generation must re-serve exactly")
    assert(live != want, "the retrain must actually have changed results")
  }

  test("persisted codes: change-feed refresh == full rebuild; serving from codes == inline") {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_codes").toString,
      retainGenerations = 10)
    val base = emb.select(col("vec_id"), col("embedding"))
    store.append("corpus", base.filter(col("vec_id") < 300))
    val g1 = store.generations("corpus").last
    val idx = AnnIndex.trainPq(store.read("corpus"), "vec_id",
      "embedding", dim, m, ksub)
    AnnIndex.save(store, "ix", idx)
    AnnIndex.encodeAndSaveCodes(store, "codes", store.read("corpus"),
      "vec_id", "embedding", idx)
    // churn the corpus: append new docs, delete some, update others
    store.append("corpus",
      base.filter(col("vec_id") >= 300 && col("vec_id") < 350))
    store.deleteByKeys("corpus",
      (0L until 20L).toDF("vec_id"), Seq("vec_id"))
    store.merge("corpus",
      base.filter(col("vec_id") >= 20 && col("vec_id") < 30)
        .select(col("vec_id"), transform(col("embedding"),
          x => (x * lit(0.5)).cast("float")).as("embedding")),
      "vec_id", TableStore.MergeUpdate(Seq("embedding")))
    val g2 = store.generations("corpus").last
    // incremental: only the churned rows re-encode
    AnnIndex.refreshCodes(store, "codes",
      store.changesBetween("corpus", g1, g2), "vec_id", "embedding", idx)
    val got = store.read("codes")
      .as[(Long, Seq[Long])].collect().toMap
    val fullStore = new TableStore(spark,
      Files.createTempDirectory("graft_codes2").toString)
    AnnIndex.encodeAndSaveCodes(fullStore, "codes",
      store.read("corpus"), "vec_id", "embedding", idx)
    val want = fullStore.read("codes")
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == want,
      s"sizes ${got.size} vs ${want.size}; " +
        s"diff ${(got.toSet diff want.toSet).take(3)}")
    // at-least-once replay: re-applying the SAME feed (crash-retry)
    // must leave the codes table unchanged, never duplicate rows
    AnnIndex.refreshCodes(store, "codes",
      store.changesBetween("corpus", g1, g2), "vec_id", "embedding", idx)
    assert(store.read("codes").count() == want.size,
      "replayed refresh duplicated code rows")
    assert(store.read("codes").as[(Long, Seq[Long])].collect().toMap
      == want)
    // and the steady-state query path: saved codes, no per-call encode
    val served = rows(AnnIndex.pqTopKOnCodes(queries,
      store.read("codes"), "vec_id", "embedding", k, idx))
    val inline = rows(AnnIndex.pqTopK(queries, store.read("corpus"),
      "vec_id", "vec_id", "embedding", k, idx))
    assert(served == inline)
  }

  test("ivf-pq + residual: serving from persisted (cent_id, codes) == inline") {
    val store = freshStore()
    val ipq = AnnIndex.trainIvfPq(emb, "vec_id", "embedding",
      dim, m, ksub, kCoarse)
    AnnIndex.save(store, "ix", ipq)
    val loaded = AnnIndex.load(store, "ix")
    AnnIndex.encodeAndSaveCodes(store, "codes", emb, "vec_id",
      "embedding", loaded)
    val served = AnnIndex.ivfPqTopKOnCodes(queries,
      store.read("codes"), "vec_id", "embedding", k, nprobe, loaded)
    val inline = Similarity.ivfPqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", dim, m, ksub, k, kCoarse = kCoarse, nprobe = nprobe)
    assert(rows(served) == rows(inline))

    val res = AnnIndex.trainIvfPqResidual(emb, "vec_id", "embedding",
      dim, m, ksub, kCoarse)
    AnnIndex.save(store, "ixr", res)
    val loadedR = AnnIndex.load(store, "ixr")
    AnnIndex.encodeAndSaveCodes(store, "codesr", emb, "vec_id",
      "embedding", loadedR)
    val servedR = AnnIndex.ivfPqResidualTopKOnCodes(queries,
      store.read("codesr"), "vec_id", "embedding", k, nprobe, loadedR)
    val inlineR = Similarity.ivfPqTopKResidual(queries, emb, "vec_id",
      "vec_id", "embedding", dim, m, ksub, k, kCoarse = kCoarse,
      nprobe = nprobe)
    assert(rows(servedR) == rows(inlineR))
  }

  test("knnClassify: clustered truth recovered; self-exclusion bites") {
    import graft.operators.Similarity
    import spark.implicits._
    // deterministic 4-cluster corpus: the label axis dominates, noise
    // is small and index-derived (no RNG) — k-NN must recover labels,
    // and probed IVF cells see the same neighborhoods
    val dim = 8
    val rows = (0L until 200L).map { i =>
      val label = (i % 4).toInt
      val v = Array.tabulate(dim) { d =>
        val noise = (((i * 31 + d * 17) % 11) - 5).toFloat / 10f
        if (d == label) 10f + (i % 7).toFloat else noise
      }
      (i, v.toSeq, label)
    }.toDF("vec_id", "embedding", "label")
    val qs = rows.filter(col("vec_id") % 9 === 0)
    val exact = Similarity.knnClassify(qs, rows, "vec_id", "vec_id",
        "embedding", "label", k = 7)
      .select(col("qid").cast("long"), col("pred_label"), col("votes"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(exact.nonEmpty)
    // clustered truth: every prediction is the query's own cluster,
    // unanimously (49 same-label neighbors available, k = 7)
    exact.foreach { case (q, (l, v)) =>
      assert(l == q % 4, s"q$q predicted $l")
      assert(v == 7L, s"q$q votes $v")
    }
    // re-run bit-identical
    val again = Similarity.knnClassify(qs, rows, "vec_id", "vec_id",
        "embedding", "label", k = 7)
      .select(col("qid").cast("long"), col("pred_label"), col("votes"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(again == exact)
    // self-exclusion bites: with excludeSelf=false every in-corpus
    // query's own label gets a guaranteed vote (sim = 1 ranks first)
    val selfIn = Similarity.knnClassify(qs, rows, "vec_id", "vec_id",
        "embedding", "label", k = 1, excludeSelf = false)
      .select(col("qid").cast("long"), col("pred_label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = qs.select(col("vec_id").cast("long"),
        col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfIn == truth)
  }

  test("params round-trip through the meta row incl. escaping") {
    val m0 = Map("dim" -> "64", "note" -> "a\"b\\c\nd", "z" -> "")
    assert(CorpusIndex.parseJson(CorpusIndex.jsonOf(m0)) == m0)
  }

  test("serving a mismatched method fails loudly") {
    val store = freshStore()
    AnnIndex.save(store, "ix",
      AnnIndex.trainLsh(dim, 16, 4, 42L))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ivfPqTopK(queries, emb, "vec_id", "vec_id", "embedding",
        k, nprobe, AnnIndex.load(store, "ix"))
    }
    assert(e.getMessage.contains("method mismatch"), e.getMessage)
  }
}
