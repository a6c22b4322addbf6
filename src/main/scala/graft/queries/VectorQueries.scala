package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.operators.Similarity
import graft.functions.VectorFunctions

/** Similarity-search coverage over the `embeddings` table (north-star
  * ANN operators). Cosine oracles use the explicit
  * dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) form on DOUBLE lists so both
  * engines fold left-to-right in double — bit-equal (validated at
  * sf0.01).
  */
object VectorQueries {


  /** q20 — brute-force exact cosine top-k for a broadcast query batch:
    * the correct 100 TB baseline (one corpus scan, one window shuffle).
    */
  private val q20 = Q("q20_knn_bruteforce",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        queries = e.filter(col("vec_id") < 5),
        corpus = e, qidCol = "vec_id", idCol = "vec_id",
        vecCol = "embedding", k = 10)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("qid"), col("rk"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid,
        CAST(embedding AS DOUBLE[]) AS av FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS bv
        FROM embeddings),
      scored AS (SELECT qid, nid,
        (list_dot_product(bv, av) /
          (SQRT(list_dot_product(av, av)) * SQRT(list_dot_product(bv, bv))))
          AS sim
        FROM c, q),
      ranked AS (SELECT qid, nid, sim,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
        FROM scored WHERE sim IS NOT NULL)
      SELECT qid, nid, sim, rk FROM ranked WHERE rk <= 10
      ORDER BY qid, rk"""))

  /** q21 — LSH-bucketed approximate top-k (random-hyperplane signatures,
    * banded buckets): the scale path. Unlike the xxhash64 dedup buckets,
    * hyperplane signatures are pure double arithmetic, so the WHOLE
    * pipeline — signatures, banding, candidate join, exact cosine, rank
    * — is oracle-expressible: the seeded hyperplane matrix is embedded
    * in the SQL as literal DOUBLE lists (Double.toString round-trips
    * bit-exactly through DuckDB's literal parser, and list_dot_product
    * folds left-to-right like the native expression — same contract q20
    * already validates).
    */
  private val q21 = Q("q21_knn_lsh",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(
        queries = e.filter(col("vec_id") < 5),
        corpus = e, qidCol = "vec_id", idCol = "vec_id",
        vecCol = "embedding", k = 10, dim = 64, planes = 16, bandBits = 2)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("qid"), col("rk"))
    },
    Some {
      val hp = Similarity.hyperplanes(16, 64)
      val hpValues = hp.zipWithIndex.map { case (p, i) =>
        s"(${i}, [${p.mkString(", ")}])"
      }.mkString(",\n        ")
      s"""WITH hp(plane_id, pv) AS (VALUES
        $hpValues),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      sigs AS (SELECT v.vec_id,
          CAST(SUM(CASE WHEN list_dot_product(v.vv, hp.pv) > 0
            THEN (CAST(1 AS BIGINT) << hp.plane_id) ELSE 0 END) AS BIGINT)
            AS sig
        FROM v CROSS JOIN hp GROUP BY v.vec_id),
      bands AS (SELECT UNNEST(RANGE(8)) AS b),
      cb AS (SELECT s.vec_id AS nid, bands.b,
          (s.sig >> (CAST(bands.b AS INTEGER) * 2)) & 3 AS bits
        FROM sigs s CROSS JOIN bands),
      qb AS (SELECT nid AS qid, b, bits FROM cb WHERE nid < 5),
      cand AS (SELECT DISTINCT qb.qid, cb.nid
        FROM cb JOIN qb ON cb.b = qb.b AND cb.bits = qb.bits),
      scored AS (SELECT cand.qid, cand.nid,
          (list_dot_product(qv.vv, nv.vv) /
            (SQRT(list_dot_product(qv.vv, qv.vv)) *
             SQRT(list_dot_product(nv.vv, nv.vv)))) AS sim
        FROM cand
        JOIN v nv ON nv.vec_id = cand.nid
        JOIN v qv ON qv.vec_id = cand.qid),
      ranked AS (SELECT qid, nid, sim,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
        FROM scored WHERE sim IS NOT NULL)
      SELECT qid, nid, sim, rk FROM ranked WHERE rk <= 10
      ORDER BY qid, rk"""
    })

  /** q22 — embedding-cosine near-duplicate pairs above a threshold.
    * Exact pairwise here (the oracle-checkable verifier); at corpus scale
    * the LSH bucketing of q21 prunes the pair space first.
    */
  private val q22 = Q("q22_embed_neardup",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      // filterOnce: cosine over ~n²/2 pairs must evaluate once, not in
      // both the pushed-down Filter and the Project (VERDICT r1 #3).
      graft.plans.PlanShape.filterOnce(
          a.crossJoin(b).filter(col("id_a") < col("id_b")),
          "sim", VectorFunctions.cosine(col("va"), col("vb")), _ >= 0.5)
        .select(col("id_a"), col("id_b"), col("sim"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        (list_dot_product(a.vv, b.vv) /
          (SQRT(list_dot_product(a.vv, a.vv)) *
           SQRT(list_dot_product(b.vv, b.vv)))) AS sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE (list_dot_product(a.vv, b.vv) /
          (SQRT(list_dot_product(a.vv, a.vv)) *
           SQRT(list_dot_product(b.vv, b.vv)))) >= 0.5
      ORDER BY id_a, id_b"""))

  /** q31 — IVF-style ANN (coarse-centroid probe lists): the second
    * approximate scale path beside LSH (q21). The centroid choice is a
    * modulo of the corpus itself and assignment/probing is pure cosine
    * arithmetic, so the whole pipeline is oracle-expressible in SQL —
    * centroid assignment, probe lists, candidate join, exact rank.
    */
  private val q31 = Q("q31_knn_ivf",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        queries = e.filter(col("vec_id") < 5),
        corpus = e, qidCol = "vec_id", idCol = "vec_id",
        vecCol = "embedding", k = 10, centroidEvery = 16, nprobe = 8)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("qid"), col("rk"))
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      c AS (SELECT vec_id AS cent_id, vv AS cv FROM v
        WHERE vec_id % 16 = 0),
      scored AS (SELECT v.vec_id, c.cent_id,
          (list_dot_product(v.vv, c.cv) /
            (SQRT(list_dot_product(v.vv, v.vv)) *
             SQRT(list_dot_product(c.cv, c.cv)))) AS csim
        FROM v CROSS JOIN c),
      ranked_assign AS (SELECT vec_id, cent_id,
          ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cent_id) AS ark
        FROM scored WHERE csim IS NOT NULL),
      corpus_assign AS (SELECT vec_id AS nid, cent_id FROM ranked_assign
        WHERE ark = 1),
      qprobes AS (SELECT vec_id AS qid, cent_id FROM ranked_assign
        WHERE vec_id < 5 AND ark <= 8),
      cand AS (SELECT DISTINCT q.qid, ca.nid
        FROM corpus_assign ca JOIN qprobes q ON ca.cent_id = q.cent_id),
      simsc AS (SELECT cand.qid, cand.nid,
          (list_dot_product(qv.vv, nv.vv) /
            (SQRT(list_dot_product(qv.vv, qv.vv)) *
             SQRT(list_dot_product(nv.vv, nv.vv)))) AS sim
        FROM cand
        JOIN v nv ON nv.vec_id = cand.nid
        JOIN v qv ON qv.vec_id = cand.qid),
      ranked AS (SELECT qid, nid, sim,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
        FROM simsc WHERE sim IS NOT NULL)
      SELECT qid, nid, sim, rk FROM ranked WHERE rk <= 10
      ORDER BY qid, rk"""))

  /** q38 — embedding near-dup pairs at scale: banded hyperplane LSH
    * candidates + exact cosine threshold (the corpus-sized replacement
    * for q22's O(n²) verifier). Like q21, the whole pipeline is pure
    * double arithmetic, so the oracle replays it exactly — signatures,
    * band self-join, threshold — with the hyperplane matrix inlined.
    */
  private val q38 = Q("q38_embed_neardup_lsh",
    (s, dir) => {
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
        idCol = "vec_id", vecCol = "embedding",
        threshold = 0.4, dim = 64, planes = 16, bandBits = 4)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some {
      val hp = Similarity.hyperplanes(16, 64)
      val hpValues = hp.zipWithIndex.map { case (p, i) =>
        s"(${i}, [${p.mkString(", ")}])"
      }.mkString(",\n        ")
      s"""WITH hp(plane_id, pv) AS (VALUES
        $hpValues),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      sigs AS (SELECT v.vec_id,
          CAST(SUM(CASE WHEN list_dot_product(v.vv, hp.pv) > 0
            THEN (CAST(1 AS BIGINT) << hp.plane_id) ELSE 0 END) AS BIGINT)
            AS sig
        FROM v CROSS JOIN hp GROUP BY v.vec_id),
      bands AS (SELECT UNNEST(RANGE(4)) AS b),
      banded AS (SELECT s.vec_id AS id, bands.b,
          (s.sig >> (CAST(bands.b AS INTEGER) * 4)) & 15 AS bits
        FROM sigs s CROSS JOIN bands),
      cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM banded x JOIN banded y
          ON x.b = y.b AND x.bits = y.bits AND x.id < y.id),
      scored AS (SELECT cand.id_a, cand.id_b,
          (list_dot_product(a.vv, b.vv) /
            (SQRT(list_dot_product(a.vv, a.vv)) *
             SQRT(list_dot_product(b.vv, b.vv)))) AS sim
        FROM cand
        JOIN v a ON a.vec_id = cand.id_a
        JOIN v b ON b.vec_id = cand.id_b)
      SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.4
      ORDER BY id_a, id_b"""
    })

  /** q49 — per-label element-wise centroid (the "train coarse
    * centroids" step of IVF, and the classic label-profile op):
    * posexplode to (label, pos, val), exact fixed-point mean per cell.
    * One agg exchange over (label, pos) — at 100 TB the map-side
    * partial sums of quantized longs compose losslessly, so the result
    * is partitioning-invariant (a plain double mean is not).
    */
  private val q49 = Q("q49_label_centroids",
    (s, dir) => {
      import graft.functions.ExactAgg
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("pos", "val")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          ExactAgg.avgFx(col("val").cast("double"), 1000000L).as("mean"))
        .orderBy(col("label"), col("pos"))
    },
    Some("""WITH x AS (SELECT label,
        UNNEST(RANGE(LEN(embedding))) AS pos, embedding
      FROM embeddings),
      v AS (SELECT label, pos,
        CAST(embedding[CAST(pos + 1 AS INT)] AS DOUBLE) AS val FROM x)
      SELECT label, pos, COUNT(*) AS n,
        (CAST(SUM(CAST(ROUND(val * 1000000.0) AS BIGINT)) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) / 1000000.0) AS mean
      FROM v GROUP BY label, pos ORDER BY label, pos"""))

  /** q58 — int8-quantized maximum-inner-product top-k
    * ([[graft.operators.Similarity.quantizedTopK]]): the serving-memory
    * path (4× smaller vectors, integer scoring). The whole pipeline is
    * exactly portable: max-abs scale and floor(x/s + 0.5) quantization
    * are deterministic double ops, and the int8 dot is exact integer
    * arithmetic (< 2^53, so DuckDB's double `list_dot_product` over the
    * integer-valued lists reproduces it bit-for-bit).
    */
  private val q58 = Q("q58_quantized_mips",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.quantizedTopK(
        queries = e.filter(col("vec_id") < 5),
        corpus = e, qidCol = "vec_id", idCol = "vec_id",
        vecCol = "embedding", k = 10)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("qid"), col("rk"))
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      sc AS (SELECT vec_id, vv,
          list_aggregate(list_transform(vv, x -> ABS(x)), 'max') / 127.0
            AS s
        FROM v),
      qz AS (SELECT vec_id,
          CASE WHEN s = 0.0 THEN list_transform(vv, x -> 0.0)
            ELSE list_transform(vv, x -> FLOOR(x / s + 0.5)) END AS qv
        FROM sc),
      q AS (SELECT vec_id AS qid, qv AS av FROM qz WHERE vec_id < 5),
      c AS (SELECT vec_id AS nid, qv AS bv FROM qz),
      scored AS (SELECT qid, nid,
          CAST(list_dot_product(av, bv) AS BIGINT) AS dot
        FROM c, q),
      ranked AS (SELECT qid, nid, dot,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid)
            AS rk
        FROM scored)
      SELECT qid, nid, dot, rk FROM ranked WHERE rk <= 10
      ORDER BY qid, rk"""))

  /** q73 — embedding-space (semantic) decontamination
    * ([[graft.operators.Decontaminate.semanticOverlap]]): flag corpus
    * vectors cosine-close to any benchmark vector (vec_id % 50 == 0 as
    * the stand-in eval set). The exhaustive broadcast form — the q22
    * role; q38's banded LSH is the pair-pruning path at benchmark
    * scale. Raw-double `max_sim` is gate-safe by the q22 precedent
    * (identical fold order both engines).
    */
  private val q73 = Q("q73_semantic_decontaminate",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Decontaminate.semanticOverlap(
          e.filter(pmod(col("vec_id"), lit(50)) =!= 0),
          e.filter(pmod(col("vec_id"), lit(50)) === 0),
          "vec_id", "embedding", threshold = 0.3)
        .orderBy(col("vec_id"))
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      b AS (SELECT vv FROM v WHERE vec_id % 50 = 0),
      c AS (SELECT vec_id, vv FROM v WHERE vec_id % 50 <> 0),
      h AS (SELECT c.vec_id AS vec_id,
          (list_dot_product(c.vv, b.vv) /
            (SQRT(list_dot_product(c.vv, c.vv)) *
             SQRT(list_dot_product(b.vv, b.vv)))) AS sim
        FROM c CROSS JOIN b)
      SELECT vec_id, COUNT(*) AS n_hits, MAX(sim) AS max_sim
      FROM h WHERE sim >= 0.3 GROUP BY vec_id ORDER BY vec_id"""))

  /** q86 — distributed Lloyd's k-means ([[Similarity.kmeansFit]]): the
    * "train REAL coarse centroids" upgrade over IVF's every-Nth-row
    * sampling. Gateable because every source of nondeterminism is
    * pinned: smallest-id init, left-to-right double distance folds
    * (DuckDB list_reduce replays Spark's aggregate/zip_with
    * associativity exactly), struct-min argmin with cid tie-break, and
    * exact fixed-point centroid means (q49's avgFx kit) so partition
    * merge order can never move a coordinate. The oracle unrolls the
    * three iterations as CTE chains.
    */
  private val q86 = Q("q86_kmeans_lloyd",
    (s, dir) => Similarity.kmeansFit(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 4, iters = 3),
    Some {
      val k = 4
      val iters = 3
      val avgfx = graft.functions.Sql.avgFx("val", 1000000L)
      val dist = "list_reduce(list_transform(range(1, LEN(p.v)+1), " +
        "i -> (p.v[i]-c.cv[i])*(p.v[i]-c.cv[i])), (a,b) -> a+b)"
      val ctes = scala.collection.mutable.ArrayBuffer(
        "pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v" +
          " FROM embeddings)",
        s"""cent0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
             AS BIGINT) AS cid, v AS cv
           FROM (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT $k))""")
      var prev = "cent0"
      for (it <- 1 to iters) {
        ctes += s"""d$it AS (SELECT p.vec_id, c.cid, $dist AS dist
          FROM pts p CROSS JOIN $prev c)"""
        ctes += s"""a$it AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid)
            AS rn FROM d$it) WHERE rn = 1)"""
        ctes += s"""x$it AS (SELECT a.cid, UNNEST(RANGE(LEN(p.v))) AS pos,
          p.v FROM a$it a JOIN pts p USING (vec_id))"""
        ctes += s"""cells$it AS (SELECT cid, CAST(pos AS BIGINT) AS pos,
          COUNT(*) AS n, $avgfx AS mean
          FROM (SELECT cid, pos, v[CAST(pos+1 AS INT)] AS val FROM x$it)
          GROUP BY cid, pos)"""
        ctes += s"""cent$it AS (SELECT cid, LIST(mean ORDER BY pos) AS cv
          FROM cells$it GROUP BY cid)"""
        prev = s"cent$it"
      }
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT cid, pos, n, mean FROM cells$iters ORDER BY cid, pos"
    })

  /** q91 — SemDeDup (Abbas et al. 2023): cluster-scoped semantic
    * dedup — nearest-centroid assignment (q31's argmax), pairwise
    * cosine ONLY within a cluster, keep-lowest-id survivors. The whole
    * pipeline is pure double arithmetic + joins, so the oracle replays
    * it exactly: assignment rank, within-cluster pairs, threshold,
    * anti-join.
    */
  private val q91 = Q("q91_semdedup",
    (s, dir) => {
      Similarity.semDedup(t(s, dir, "embeddings"),
        idCol = "vec_id", vecCol = "embedding",
        threshold = 0.4, centroidEvery = 16)
        .orderBy(col("id"))
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      c AS (SELECT vec_id AS cent_id, vv AS cv FROM v
        WHERE vec_id % 16 = 0),
      scored AS (SELECT v.vec_id, c.cent_id,
          (list_dot_product(v.vv, c.cv) /
            (SQRT(list_dot_product(v.vv, v.vv)) *
             SQRT(list_dot_product(c.cv, c.cv)))) AS csim
        FROM v CROSS JOIN c),
      ranked_assign AS (SELECT vec_id, cent_id,
          ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cent_id) AS ark
        FROM scored WHERE csim IS NOT NULL),
      assigned AS (SELECT vec_id AS id, cent_id FROM ranked_assign
        WHERE ark = 1),
      pairs AS (SELECT a.id AS id_a, b.id AS id_b
        FROM assigned a JOIN assigned b
          ON a.cent_id = b.cent_id AND a.id < b.id),
      simsc AS (SELECT p.id_a, p.id_b,
          (list_dot_product(va.vv, vb.vv) /
            (SQRT(list_dot_product(va.vv, va.vv)) *
             SQRT(list_dot_product(vb.vv, vb.vv)))) AS sim
        FROM pairs p
        JOIN v va ON va.vec_id = p.id_a
        JOIN v vb ON vb.vec_id = p.id_b),
      removed AS (SELECT DISTINCT id_b AS id FROM simsc
        WHERE sim >= 0.4)
      SELECT a.id, a.cent_id FROM assigned a
      WHERE NOT EXISTS (SELECT 1 FROM removed r WHERE r.id = a.id)
      ORDER BY a.id"""))

  /** q86-shape unrolled k-means chain over source CTE `src` (rows
    * (vec_id, v)), names prefixed `pre`: `{pre}cent0` … `{pre}cent$iters`.
    * Every stage MATERIALIZED (the q97 lesson).
    */
  private def kmeansChainSql(src: String, pre: String, k: Int,
                             iters: Int): Seq[String] = {
    val avgfx = graft.functions.Sql.avgFx("val", 1000000L)
    val dist = "list_reduce(list_transform(range(1, LEN(p.v)+1), " +
      "i -> (p.v[i]-c.cv[i])*(p.v[i]-c.cv[i])), (a,b) -> a+b)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""${pre}cent0 AS MATERIALIZED (SELECT
        CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
          AS cid, v AS cv
        FROM (SELECT vec_id, v FROM $src ORDER BY vec_id LIMIT $k))""")
    var prev = s"${pre}cent0"
    for (it <- 1 to iters) {
      ctes += s"""${pre}d$it AS MATERIALIZED (SELECT p.vec_id,
        c.cid, $dist AS dist FROM $src p CROSS JOIN $prev c)"""
      ctes += s"""${pre}a$it AS MATERIALIZED (SELECT vec_id, cid
        FROM (SELECT vec_id, cid, ROW_NUMBER() OVER
          (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM ${pre}d$it) WHERE rn = 1)"""
      ctes += s"""${pre}cells$it AS MATERIALIZED (SELECT cid,
        CAST(pos AS BIGINT) AS pos, COUNT(*) AS n, $avgfx AS mean
        FROM (SELECT cid, pos, v[CAST(pos+1 AS INT)] AS val FROM
          (SELECT a.cid, UNNEST(RANGE(LEN(p.v))) AS pos, p.v
           FROM ${pre}a$it a JOIN $src p USING (vec_id)))
        GROUP BY cid, pos)"""
      ctes += s"""${pre}cent$it AS MATERIALIZED (SELECT cid,
        LIST(mean ORDER BY pos) AS cv FROM ${pre}cells$it
        GROUP BY cid)"""
      prev = s"${pre}cent$it"
    }
    ctes.toSeq
  }

  /** Shared q100/q101 oracle prefix: pts → per-sub slices p{j} → m
    * k-means chains → codebook / subpts / enc0 (all sub-distances) /
    * enc (argmin codes) / qt (query distance-table rows).
    */
  private def pqOracleCtes(dim: Int, m: Int, ksub: Int,
                           iters: Int): Seq[String] = {
    val w = dim / m
    val ctes = scala.collection.mutable.ArrayBuffer(
      "pts AS MATERIALIZED (SELECT vec_id, " +
        "CAST(embedding AS DOUBLE[]) AS v FROM embeddings)")
    for (j <- 0 until m) {
      val (lo, hi) = (j * w + 1, (j + 1) * w)
      ctes += s"p$j AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM pts)"
      ctes ++= kmeansChainSql(s"p$j", s"s${j}_", ksub, iters)
    }
    ctes += "codebook AS MATERIALIZED (" +
      (0 until m).map(j =>
        s"SELECT $j AS sub, cid, cv FROM s${j}_cent$iters")
        .mkString(" UNION ALL ") + ")"
    ctes += "subpts AS MATERIALIZED (" +
      (0 until m).map(j =>
        s"SELECT vec_id, $j AS sub, v AS sv FROM p$j")
        .mkString(" UNION ALL ") + ")"
    val d2 = "list_reduce(list_transform(range(1, LEN(sp.sv)+1), " +
      "i -> (sp.sv[i]-cb.cv[i])*(sp.sv[i]-cb.cv[i])), (a,b) -> a+b)"
    ctes += s"""enc0 AS MATERIALIZED (SELECT sp.vec_id, sp.sub,
      cb.cid, $d2 AS dist FROM subpts sp JOIN codebook cb USING (sub))"""
    ctes += """enc AS MATERIALIZED (SELECT vec_id, sub, cid
      FROM (SELECT vec_id, sub, cid, ROW_NUMBER() OVER
        (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
      FROM enc0) WHERE rn = 1)"""
    ctes += """qt AS MATERIALIZED (SELECT vec_id AS qid, sub, cid,
      dist AS d FROM enc0 WHERE vec_id < 5)"""
    ctes.toSeq
  }

  /** Cosine of a point row `p.v` against a centroid row `c.cv` — the
    * ONE coarse-assignment expression the q101/q102 oracles share.
    */
  private val cosPC = "(list_dot_product(p.v, c.cv) / " +
    "(SQRT(list_dot_product(p.v, p.v)) * " +
    "SQRT(list_dot_product(c.cv, c.cv))))"

  /** Coarse-assignment replay shared by q101/q102 (q91's SQL shape):
    * cscore (all point×centroid cosines), adoc (argmax assignment),
    * probes (per-query top-nprobe cells). Expects `pts` and
    * `c_cent$coarseIters` CTEs in scope.
    */
  private def coarseAssignCtes(coarseIters: Int,
                               nprobe: Int): Seq[String] = Seq(
    s"""cscore AS MATERIALIZED (SELECT p.vec_id, c.cid AS cent_id,
      $cosPC AS csim FROM pts p CROSS JOIN c_cent$coarseIters c)""",
    """adoc AS MATERIALIZED (SELECT vec_id, cent_id
      FROM (SELECT vec_id, cent_id, ROW_NUMBER() OVER
        (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
      FROM cscore WHERE csim IS NOT NULL) WHERE rn = 1)""",
    s"""probes AS MATERIALIZED (SELECT vec_id AS qid, cent_id
      FROM (SELECT vec_id, cent_id, ROW_NUMBER() OVER
        (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
      FROM cscore WHERE vec_id < 5 AND csim IS NOT NULL)
      WHERE rn <= $nprobe)""")

  /** Exact-cosine rerank tail shared by the q103/q104 oracles: expects
    * `v` (vec_id, v) and `cand` (qid, nid) CTEs in scope; closes the
    * WITH clause.
    */
  private def cosRerankSql(k: Int): String =
    s"""scored AS (SELECT c.qid, c.nid,
        (list_dot_product(b.v, a.v) /
          (SQRT(list_dot_product(a.v, a.v)) *
           SQRT(list_dot_product(b.v, b.v)))) AS sim
      FROM cand c
      JOIN v a ON a.vec_id = c.qid
      JOIN v b ON b.vec_id = c.nid),
    ranked AS (SELECT qid, nid, sim,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY sim DESC, nid) AS rk
      FROM scored WHERE sim IS NOT NULL)
    SELECT qid, nid, sim, CAST(rk AS BIGINT) AS rk FROM ranked
    WHERE rk <= $k ORDER BY qid, rk"""

  private def pqRankSql(k: Int): String =
    s"""SELECT qid, id, dist, CAST(rk AS BIGINT) AS rk FROM
      (SELECT qid, id, dist, ROW_NUMBER() OVER
        (PARTITION BY qid ORDER BY dist, id) AS rk FROM sc)
    WHERE rk <= $k ORDER BY qid, rk"""

  /** q100 — product-quantization ADC top-k
    * ([[Similarity.pqTrain]]/[[Similarity.pqEncode]]/[[Similarity.pqTopK]],
    * Jégou et al. 2011): per-sub-block deterministic k-means codebooks,
    * m-byte codes, and asymmetric-distance ranking. Gateable end to end
    * because every stage reuses an already-gated determinism contract:
    * the q86 Lloyd trajectory per sub-block, the struct-min argmin for
    * encoding, and fixed-order double folds for both the distance
    * tables and the Σⱼ score. The oracle unrolls the m training chains
    * (q86's CTE shape, MATERIALIZED per the q97 lesson) then replays
    * encode + ADC relationally.
    */
  private val q100 = {
    val (dim, m, ksub, iters, k) = (64, 4, 8, 2, 10)
    Q("q100_pq_adc_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cb = Similarity.pqTrain(e, "vec_id", "embedding",
          dim, m, ksub, iters)
        val codes = Similarity.pqEncode(e, "vec_id", "embedding",
          dim, m, cb)
        Similarity.pqTopK(e.filter(col("vec_id") < 5), codes, cb,
          "vec_id", "embedding", dim, m, ksub, k)
          .orderBy(col("qid"), col("rk"))
      },
      Some {
        val ctes = pqOracleCtes(dim, m, ksub, iters) :+
          """sc AS MATERIALIZED (SELECT qt.qid, e.vec_id AS id,
            list_reduce(LIST(qt.d ORDER BY qt.sub), (a,b) -> a+b) AS dist
            FROM enc e JOIN qt ON qt.sub = e.sub AND qt.cid = e.cid
            GROUP BY qt.qid, e.vec_id)"""
        "WITH " + ctes.mkString(",\n") + "\n" + pqRankSql(k)
      })
  }

  /** The q101 oracle body, shared verbatim with q119 (a SERVED saved
    * index must equal the inline-trained pipeline, so one SQL replay
    * gates both).
    */
  private def ivfPqOracleSql(dim: Int, m: Int, ksub: Int, iters: Int,
                             kCoarse: Int, nprobe: Int,
                             coarseIters: Int, k: Int): String = {
    val ctes = pqOracleCtes(dim, m, ksub, iters) ++
      kmeansChainSql("pts", "c_", kCoarse, coarseIters) ++
      coarseAssignCtes(coarseIters, nprobe) ++ Seq(
      """sc AS MATERIALIZED (SELECT qt.qid, e.vec_id AS id,
        list_reduce(LIST(qt.d ORDER BY qt.sub), (a,b) -> a+b) AS dist
        FROM enc e
        JOIN qt ON qt.sub = e.sub AND qt.cid = e.cid
        JOIN adoc a ON a.vec_id = e.vec_id
        JOIN probes pr ON pr.qid = qt.qid
          AND pr.cent_id = a.cent_id
        GROUP BY qt.qid, e.vec_id)""")
    "WITH " + ctes.mkString(",\n") + "\n" + pqRankSql(k)
  }

  /** q101 — composed IVF-PQ ([[Similarity.ivfPqTopK]]): coarse k-means
    * cells route each query to its nprobe nearest lists (cosine
    * assignment, the q31/q91 argmax), and ADC scoring runs only over
    * codes in probed cells. The oracle extends q100's chain with the
    * coarse k-means chain on full vectors, the cosine
    * assignment/probe ranks (q91's SQL shape), and the probe
    * restriction on the score join — upgrading the composition from
    * spec-gated to oracle-gated.
    */
  private val q101 = {
    val (dim, m, ksub, iters, k) = (64, 4, 8, 2, 10)
    val (kCoarse, nprobe, coarseIters) = (6, 2, 2)
    Q("q101_ivfpq_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "vec_id", "embedding", dim, m, ksub, k,
          kCoarse = kCoarse, nprobe = nprobe,
          coarseIters = coarseIters, pqIters = iters)
          .orderBy(col("qid"), col("rk"))
      },
      Some(ivfPqOracleSql(dim, m, ksub, iters, kCoarse, nprobe,
        coarseIters, k)))
  }

  /** q119 — SERVED saved-index IVF-PQ ([[graft.operators.AnnIndex]]):
    * train the q101 index ONCE, [[AnnIndex.save]] it through a
    * TableStore (OCC commit, pinned generation), [[AnnIndex.loadAt]]
    * that generation back, and serve with training skipped — the
    * train-once/serve-many shape a 100 TB deployment actually runs.
    * The oracle is VERBATIM q101's: a persisted-then-loaded index
    * must reproduce the inline-trained pipeline bit-for-bit (the
    * save/load round-trip and the generation pin are what's under
    * test; AnnIndexSpec covers the other methods + retrain
    * isolation).
    */
  private val q119 = {
    val (dim, m, ksub, iters, k) = (64, 4, 8, 2, 10)
    val (kCoarse, nprobe, coarseIters) = (6, 2, 2)
    Q("q119_ivfpq_served_index",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Scratch.withDir("graft_q119_idx") { root =>
          val store = new graft.sources.TableStore(s, root)
          val gen = graft.operators.AnnIndex.save(store, "ix",
            graft.operators.AnnIndex.trainIvfPq(e, "vec_id", "embedding",
              dim, m, ksub, kCoarse, coarseIters = coarseIters,
              pqIters = iters))
          val idx = graft.operators.AnnIndex.loadAt(store, "ix", gen)
          graft.operators.AnnIndex.ivfPqTopK(e.filter(col("vec_id") < 5),
            e, "vec_id", "vec_id", "embedding", k, nprobe, idx)
            .orderBy(col("qid"), col("rk"))
        }(s)
      },
      Some(ivfPqOracleSql(dim, m, ksub, iters, kCoarse, nprobe,
        coarseIters, k)))
  }

  /** q102 — RESIDUAL IVF-PQ ([[Similarity.ivfPqTopKResidual]], the
    * published FAISS encoding): PQ codebooks train on v − centroid
    * residuals and queries carry one distance table per probed cell.
    * The oracle reuses q101's coarse chain and replays the residual
    * projection (exact double subtraction via list_transform), the m
    * residual k-means chains, residual encoding, and the
    * per-(query, cell) ADC join.
    */
  private val q102 = {
    val (dim, m, ksub, iters, k) = (64, 4, 8, 2, 10)
    val (kCoarse, nprobe, coarseIters) = (6, 2, 2)
    val w = dim / m
    Q("q102_ivfpq_residual_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfPqTopKResidual(e.filter(col("vec_id") < 5), e,
          "vec_id", "vec_id", "embedding", dim, m, ksub, k,
          kCoarse = kCoarse, nprobe = nprobe,
          coarseIters = coarseIters, pqIters = iters)
          .orderBy(col("qid"), col("rk"))
      },
      Some {
        val sub = "list_transform(range(1, LEN(p.v)+1), " +
          "i -> p.v[i] - c.cv[i])"
        val ctes = scala.collection.mutable.ArrayBuffer(
          "pts AS MATERIALIZED (SELECT vec_id, " +
            "CAST(embedding AS DOUBLE[]) AS v FROM embeddings)")
        ctes ++= kmeansChainSql("pts", "c_", kCoarse, coarseIters)
        ctes ++= coarseAssignCtes(coarseIters, nprobe)
        // per-doc residual against the assigned cell's centroid
        ctes += s"""rdoc AS MATERIALIZED (SELECT p.vec_id, $sub AS v
          FROM pts p JOIN adoc a USING (vec_id)
          JOIN c_cent$coarseIters c ON c.cid = a.cent_id)"""
        for (j <- 0 until m) {
          val (lo, hi) = (j * w + 1, (j + 1) * w)
          ctes += s"rp$j AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM rdoc)"
          ctes ++= kmeansChainSql(s"rp$j", s"rs${j}_", ksub, iters)
        }
        ctes += "codebook AS MATERIALIZED (" +
          (0 until m).map(j =>
            s"SELECT $j AS sub, cid, cv FROM rs${j}_cent$iters")
            .mkString(" UNION ALL ") + ")"
        ctes += "rsub AS MATERIALIZED (" +
          (0 until m).map(j =>
            s"SELECT vec_id, $j AS sub, v AS sv FROM rp$j")
            .mkString(" UNION ALL ") + ")"
        val d2 = "list_reduce(list_transform(range(1, LEN(sp.sv)+1), " +
          "i -> (sp.sv[i]-cb.cv[i])*(sp.sv[i]-cb.cv[i])), (a,b) -> a+b)"
        ctes += s"""enc0 AS MATERIALIZED (SELECT sp.vec_id, sp.sub,
          cb.cid, $d2 AS dist FROM rsub sp JOIN codebook cb USING (sub))"""
        ctes += """enc AS MATERIALIZED (SELECT vec_id, sub, cid
          FROM (SELECT vec_id, sub, cid, ROW_NUMBER() OVER
            (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
          FROM enc0) WHERE rn = 1)"""
        // query residual PER PROBED CELL, its slices, its table rows
        ctes += s"""qres AS MATERIALIZED (SELECT pr.qid, pr.cent_id,
          $sub AS v
          FROM probes pr JOIN pts p ON p.vec_id = pr.qid
          JOIN c_cent$coarseIters c ON c.cid = pr.cent_id)"""
        ctes += "qsub AS MATERIALIZED (" +
          (0 until m).map { j =>
            val (lo, hi) = (j * w + 1, (j + 1) * w)
            s"SELECT qid, cent_id, $j AS sub, v[$lo:$hi] AS sv FROM qres"
          }.mkString(" UNION ALL ") + ")"
        ctes += s"""qt AS MATERIALIZED (SELECT sp.qid, sp.cent_id,
          sp.sub, cb.cid, $d2 AS d
          FROM qsub sp JOIN codebook cb USING (sub))"""
        ctes += """sc AS MATERIALIZED (SELECT qt.qid, e.vec_id AS id,
          list_reduce(LIST(qt.d ORDER BY qt.sub), (a,b) -> a+b) AS dist
          FROM enc e
          JOIN adoc a ON a.vec_id = e.vec_id
          JOIN qt ON qt.sub = e.sub AND qt.cid = e.cid
            AND qt.cent_id = a.cent_id
          GROUP BY qt.qid, e.vec_id)"""
        "WITH " + ctes.mkString(",\n") + "\n" + pqRankSql(k)
      })
  }

  /** q103 — binary-quantization retrieval ([[Similarity.binaryTopK]]):
    * sign-bit packing (one long per vector, 64× memory cut), Hamming
    * xor+popcount prescreen, exact cosine rerank of the top-50.
    * Everything is integer algebra until the gated q20 cosine, so the
    * oracle replays it verbatim — including the bit-63 special case
    * (Long.MinValue literal: both engines reject `1 << 63`).
    */
  private val q103 = {
    val (dim, k, rerank) = (64, 10, 50)
    Q("q103_binary_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.binaryTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "vec_id", "embedding", dim, k, rerank)
          .withColumn("rk", col("rk").cast("long"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH v AS MATERIALIZED (SELECT vec_id,
          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS MATERIALIZED (SELECT vec_id,
          list_reduce(list_transform(range(1, ${dim + 1}),
            i -> CASE WHEN v[i] > 0 THEN
              (CASE WHEN i = 64 THEN CAST(-9223372036854775808 AS BIGINT)
                    ELSE (CAST(1 AS BIGINT) << (i - 1)) END)
              ELSE CAST(0 AS BIGINT) END),
            (a, b) -> a | b) AS sig
          FROM v),
        q AS (SELECT vec_id AS qid, sig AS qsig FROM sig
          WHERE vec_id < 5),
        h AS (SELECT q.qid, s.vec_id AS nid,
            bit_count(xor(s.sig, q.qsig)) AS ham
          FROM sig s CROSS JOIN q),
        cand AS (SELECT qid, nid FROM (SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
          FROM h) WHERE rn <= $rerank),
        """ + cosRerankSql(k)))
  }

  /** q104 — Matryoshka retrieval ([[Similarity.matryoshkaTopK]]):
    * truncated-dimension cosine prescreen (first 16 of 64 dims — ¼ of
    * the prescreen compute/bandwidth) then full-dimension exact rerank
    * of the top-50. Both stages are the gated q20 cosine algebra on
    * sliced DOUBLE lists, so the oracle replays them verbatim.
    */
  private val q104 = {
    val (dimPrefix, k, rerank) = (16, 10, 50)
    Q("q104_matryoshka_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.matryoshkaTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "vec_id", "embedding", dimPrefix, k, rerank)
          .withColumn("rk", col("rk").cast("long"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH v AS MATERIALIZED (SELECT vec_id,
          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS MATERIALIZED (SELECT vec_id, v[1:$dimPrefix] AS pv FROM v),
        q AS (SELECT vec_id AS qid, pv AS qp FROM p WHERE vec_id < 5),
        pre AS (SELECT q.qid, c.vec_id AS nid,
            COALESCE((list_dot_product(c.pv, q.qp) /
              (SQRT(list_dot_product(q.qp, q.qp)) *
               SQRT(list_dot_product(c.pv, c.pv)))), -2.0) AS psim
          FROM p c CROSS JOIN q),
        cand AS (SELECT qid, nid FROM (SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY psim DESC, nid) AS rn
          FROM pre) WHERE rn <= $rerank),
        """ + cosRerankSql(k)))
  }

  /** q105 — MMR diversity selection ([[Similarity.mmrSelect]]): greedy
    * λ·rel − (1−λ)·maxSim over a bounded retrieval pool (top-20 exact
    * cosine), k=5 picks per query. Gateable at λ=1/2 because the
    * score is an exact power-of-two scaling of rel − maxSim — a bare
    * subtraction, immune to the q90 FMA contraction — so the oracle
    * unrolls the five greedy steps as MATERIALIZED CTE stages
    * (per-step max-sim-to-selected, anti-join of the picked set,
    * total-order argmax) and multiplies by 0.5 only at emission.
    */
  private val q105 = {
    val (pool, k) = (20, 5)
    Q("q105_mmr_select",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cands = Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
          "embedding", k = pool)
          .join(e.select(col("vec_id").as("nid"),
            col("embedding").as("v")), Seq("nid"))
        Similarity.mmrSelect(cands, "qid", "nid", "v", "sim",
          lambda = 0.5, k = k)
          .orderBy(col("qid"), col("rk"))
      },
      Some {
        val ctes = scala.collection.mutable.ArrayBuffer(
          "v AS MATERIALIZED (SELECT vec_id, " +
            "CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
          "q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 5)",
          """relsc AS (SELECT q.qid, c.vec_id AS id,
            (list_dot_product(c.v, q.qv) /
              (SQRT(list_dot_product(q.qv, q.qv)) *
               SQRT(list_dot_product(c.v, c.v)))) AS rel
          FROM v c CROSS JOIN q)""",
          s"""cand AS MATERIALIZED (SELECT qid, id, rel
            FROM (SELECT qid, id, rel, ROW_NUMBER() OVER
              (PARTITION BY qid ORDER BY rel DESC, id) AS rn
            FROM relsc WHERE rel IS NOT NULL) WHERE rn <= $pool)""",
          """pairs AS MATERIALIZED (SELECT ca.qid, ca.id AS a,
            cb.id AS b,
            (list_dot_product(vb.v, va.v) /
              (SQRT(list_dot_product(va.v, va.v)) *
               SQRT(list_dot_product(vb.v, vb.v)))) AS sim
          FROM cand ca
          JOIN cand cb ON cb.qid = ca.qid
          JOIN v va ON va.vec_id = ca.id
          JOIN v vb ON vb.vec_id = cb.id)""",
          """sel0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS qid,
            CAST(NULL AS BIGINT) AS id WHERE 1 = 0)""")
        for (t <- 1 to k) {
          val prev = s"sel${t - 1}"
          ctes += s"""ms$t AS MATERIALIZED (SELECT p.qid, p.a AS id,
            MAX(p.sim) AS ms FROM pairs p
            JOIN $prev s ON s.qid = p.qid AND s.id = p.b
            GROUP BY p.qid, p.a)"""
          ctes += s"""sc$t AS MATERIALIZED (SELECT c.qid, c.id,
            c.rel - COALESCE(m.ms, 0.0) AS g
            FROM cand c LEFT JOIN ms$t m
              ON m.qid = c.qid AND m.id = c.id
            WHERE NOT EXISTS (SELECT 1 FROM $prev s
              WHERE s.qid = c.qid AND s.id = c.id))"""
          ctes += s"""pick$t AS MATERIALIZED (SELECT qid, id, g
            FROM (SELECT qid, id, g, ROW_NUMBER() OVER
              (PARTITION BY qid ORDER BY g DESC, id) AS rn
            FROM sc$t) WHERE rn = 1)"""
          ctes += s"""sel$t AS MATERIALIZED (SELECT qid, id FROM $prev
            UNION ALL SELECT qid, id FROM pick$t)"""
        }
        val sel = (1 to k).map(t =>
          s"SELECT qid, id, CAST($t AS BIGINT) AS rk, 0.5 * g AS score " +
            s"FROM pick$t").mkString(" UNION ALL ")
        "WITH " + ctes.mkString(",\n") +
          s"\nSELECT * FROM ($sel) ORDER BY qid, rk"
      })
  }

  /** q126 — retrieval-quality evaluation ([[graft.operators.Eval]]):
    * recall@10 + MRR of the LSH-bucketed ANN path (q21's exact
    * parameters) against the brute-force baseline (q20's) — the
    * measure-the-index feedback loop a served deployment runs after
    * every refresh. All outputs are exact integers (hit counts,
    * parts-per-million via integer division `div` ⇄ `//`), so the
    * oracle replays BOTH retrieval chains verbatim plus the
    * intersection arithmetic.
    */
  private val q126 = Q("q126_ann_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val approx = Similarity.lshTopK(queries = q, corpus = e,
        qidCol = "vec_id", idCol = "vec_id", vecCol = "embedding",
        k = 10, dim = 64, planes = 16, bandBits = 2)
      val exact = Similarity.bruteForceTopK(queries = q, corpus = e,
        qidCol = "vec_id", idCol = "vec_id", vecCol = "embedding",
        k = 10)
      graft.operators.Eval.recallAtK(approx, exact, "qid", "nid",
        "rk", 10).orderBy(col("qid"))
    },
    Some {
      s"""WITH ${annEvalCtes(10)},
      j AS (SELECT ex.qid AS qid, ex.erk AS erk, ap.ark AS ark
        FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid),
      agg AS (SELECT qid, COUNT(*) AS n_exact,
          COALESCE(SUM(CASE WHEN ark IS NOT NULL THEN 1 END), 0)
            AS n_hit,
          COALESCE(MAX(CASE WHEN erk = 1 AND ark IS NOT NULL
            THEN 1000000 // ark END), 0) AS mrr_ppm
        FROM j GROUP BY qid)
      SELECT qid, CAST(n_exact AS BIGINT) AS n_exact,
        CAST(n_hit AS BIGINT) AS n_hit,
        CAST((1000000 * n_hit) // n_exact AS BIGINT) AS recall_ppm,
        CAST(mrr_ppm AS BIGINT) AS mrr_ppm
      FROM agg ORDER BY qid"""
    })

  /** The q21 LSH chain + q20 brute chain joined into (ap, ex) rank
    * CTEs — shared by q126 (recall/MRR tail) and q128 (nDCG tail).
    */
  private def annEvalCtes(k: Int): String = {
    val hp = Similarity.hyperplanes(16, 64)
    val hpValues = hp.zipWithIndex.map { case (p, i) =>
      s"(${i}, [${p.mkString(", ")}])"
    }.mkString(",\n        ")
    s"""hp(plane_id, pv) AS (VALUES
        $hpValues),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      sigs AS (SELECT v.vec_id,
          CAST(SUM(CASE WHEN list_dot_product(v.vv, hp.pv) > 0
            THEN (CAST(1 AS BIGINT) << hp.plane_id) ELSE 0 END) AS BIGINT)
            AS sig
        FROM v CROSS JOIN hp GROUP BY v.vec_id),
      bands AS (SELECT UNNEST(RANGE(8)) AS b),
      cb AS (SELECT s.vec_id AS nid, bands.b,
          (s.sig >> (CAST(bands.b AS INTEGER) * 2)) & 3 AS bits
        FROM sigs s CROSS JOIN bands),
      qb AS (SELECT nid AS qid, b, bits FROM cb WHERE nid < 5),
      cand AS (SELECT DISTINCT qb.qid, cb.nid
        FROM cb JOIN qb ON cb.b = qb.b AND cb.bits = qb.bits),
      lscored AS (SELECT cand.qid, cand.nid,
          (list_dot_product(qv.vv, nv.vv) /
            (SQRT(list_dot_product(qv.vv, qv.vv)) *
             SQRT(list_dot_product(nv.vv, nv.vv)))) AS sim
        FROM cand
        JOIN v nv ON nv.vec_id = cand.nid
        JOIN v qv ON qv.vec_id = cand.qid),
      ap AS (SELECT qid, nid, ark FROM (SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid)
            AS ark
        FROM lscored WHERE sim IS NOT NULL) WHERE ark <= $k),
      bscored AS (SELECT q.qid, c.vec_id AS nid,
          (list_dot_product(c.vv, q.av) /
            (SQRT(list_dot_product(q.av, q.av)) *
             SQRT(list_dot_product(c.vv, c.vv)))) AS sim
        FROM v c, (SELECT vec_id AS qid, vv AS av FROM v
          WHERE vec_id < 5) q),
      ex AS (SELECT qid, nid, erk FROM (SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid)
            AS erk
        FROM bscored WHERE sim IS NOT NULL) WHERE erk <= $k)"""
  }

  /** q128 — nDCG@10 of the LSH path against the exact baseline
    * ([[graft.operators.Eval.ndcgAtK]]): graded relevance derived from
    * the baseline rank (rel = k+1−erk), position weights
    * ⌊1e6/log2(1+i)⌋ computed ONCE driver-side and embedded as
    * LITERALS in both plans (the hyperplane precedent — the irrational
    * log2 never crosses an engine boundary), integer-division ppm.
    */
  private val q128 = {
    val k = 10
    Q("q128_ann_ndcg",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 5)
        val approx = Similarity.lshTopK(queries = q, corpus = e,
          qidCol = "vec_id", idCol = "vec_id", vecCol = "embedding",
          k = k, dim = 64, planes = 16, bandBits = 2)
        val exact = Similarity.bruteForceTopK(queries = q, corpus = e,
          qidCol = "vec_id", idCol = "vec_id", vecCol = "embedding",
          k = k)
        graft.operators.Eval.ndcgAtK(approx, exact, "qid", "nid",
          "rk", k).orderBy(col("qid"))
      },
      Some {
        val wt = (1 to k).map(i =>
          s"($i, ${graft.operators.Eval.dcgWeight(i)})").mkString(", ")
        val ic = (1 to k).map { n =>
          val v = (1 to n).map(i =>
            (k + 1 - i).toLong * graft.operators.Eval.dcgWeight(i)).sum
          s"($n, $v)"
        }.mkString(", ")
        s"""WITH ${annEvalCtes(k)},
        wt(i, w) AS (VALUES $wt),
        ic(n, v) AS (VALUES $ic),
        j AS (SELECT ex.qid AS qid, ex.erk AS erk, ap.ark AS ark
          FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid),
        agg AS (SELECT qid, COUNT(*) AS n_exact,
            COALESCE(SUM(CASE WHEN j.ark IS NOT NULL
              THEN (${k + 1} - j.erk) * wt.w END), 0) AS dcg
          FROM j LEFT JOIN wt ON wt.i = j.ark GROUP BY qid)
        SELECT qid, CAST(n_exact AS BIGINT) AS n_exact,
          CAST(dcg AS BIGINT) AS dcg_q,
          CAST(ic.v AS BIGINT) AS idcg_q,
          CAST((1000000 * dcg) // ic.v AS BIGINT) AS ndcg_ppm
        FROM agg JOIN ic ON ic.n = agg.n_exact
        ORDER BY qid"""
      })
  }

  /** q178 — hard-negative mining
    * ([[graft.operators.Similarity.hardNegatives]], round 12, the
    * DPR recipe): per anchor, the 10 most-similar DIFFERENT-label
    * vectors — the q20 movement contract with a broadcast-side label
    * inequality ahead of the window.
    */
  private val q178 = Q("q178_hard_negatives",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.hardNegatives(
          anchors = e.filter(col("vec_id") < 5),
          corpus = e, qidCol = "vec_id", idCol = "vec_id",
          vecCol = "embedding", labelCol = "label", k = 10)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("qid"), col("rk"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid,
        CAST(embedding AS DOUBLE[]) AS av, label AS ql
      FROM embeddings WHERE vec_id < 5 AND label IS NOT NULL),
      c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS bv,
          label AS nl FROM embeddings WHERE label IS NOT NULL),
      scored AS (SELECT qid, nid,
        (list_dot_product(bv, av) /
          (SQRT(list_dot_product(av, av)) *
            SQRT(list_dot_product(bv, bv)))) AS sim
        FROM c, q WHERE nl <> ql),
      ranked AS (SELECT qid, nid, sim,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY sim DESC, nid) AS rk
        FROM scored WHERE sim IS NOT NULL)
      SELECT qid, nid, sim, rk FROM ranked WHERE rk <= 10
      ORDER BY qid, rk"""))

  /** q187 — hard negatives SERVED through IVF probes
    * ([[graft.operators.Similarity.hardNegativesIvf]], round 12):
    * q178's label screen riding q31's audited probe/assignment plan —
    * candidates only from the anchor's probed cells, same-label drops
    * before the exact rerank.
    */
  private val q187 = Q("q187_hard_negatives_ivf",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.hardNegativesIvf(
          anchors = e.filter(col("vec_id") < 5),
          corpus = e, qidCol = "vec_id", idCol = "vec_id",
          vecCol = "embedding", labelCol = "label", k = 10,
          centroidEvery = 16, nprobe = 8)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("qid"), col("rk"))
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv,
          label FROM embeddings WHERE label IS NOT NULL),
      c AS (SELECT vec_id AS cent_id, vv AS cv FROM v
        WHERE vec_id % 16 = 0),
      scored AS (SELECT v.vec_id, c.cent_id,
          (list_dot_product(v.vv, c.cv) /
            (SQRT(list_dot_product(v.vv, v.vv)) *
             SQRT(list_dot_product(c.cv, c.cv)))) AS csim
        FROM v CROSS JOIN c),
      ranked_assign AS (SELECT vec_id, cent_id,
          ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cent_id) AS ark
        FROM scored WHERE csim IS NOT NULL),
      corpus_assign AS (SELECT vec_id AS nid, cent_id
        FROM ranked_assign WHERE ark = 1),
      qprobes AS (SELECT vec_id AS qid, cent_id FROM ranked_assign
        WHERE vec_id < 5 AND ark <= 8),
      cand AS (SELECT DISTINCT q.qid, ca.nid
        FROM corpus_assign ca JOIN qprobes q ON ca.cent_id = q.cent_id),
      lab AS (SELECT cand.qid, cand.nid FROM cand
        JOIN v qv ON qv.vec_id = cand.qid
        JOIN v nv ON nv.vec_id = cand.nid
        WHERE nv.label <> qv.label),
      simsc AS (SELECT lab.qid, lab.nid,
          (list_dot_product(qv.vv, nv.vv) /
            (SQRT(list_dot_product(qv.vv, qv.vv)) *
             SQRT(list_dot_product(nv.vv, nv.vv)))) AS sim
        FROM lab
        JOIN v nv ON nv.vec_id = lab.nid
        JOIN v qv ON qv.vec_id = lab.qid),
      ranked AS (SELECT qid, nid, sim,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, nid) AS rk
        FROM simsc WHERE sim IS NOT NULL)
      SELECT qid, nid, sim, rk FROM ranked WHERE rk <= 10
      ORDER BY qid, rk"""))

  /** q229 — per-dimension embedding profile
    * ([[graft.operators.Similarity.dimProfile]], round 12): quantized
    * milli extremes and sign-split mean per coordinate — dead/clipped/
    * drifted dimensions surface before they poison an index.
    */
  private val q229 = Q("q229_embedding_dims",
    (s, dir) =>
      graft.operators.Similarity.dimProfile(
          t(s, dir, "embeddings"), "embedding")
        .orderBy(col("dim")),
    Some("""WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      x AS (SELECT UNNEST(RANGE(LEN(vv))) AS dim,
          CAST(FLOOR(1000 * UNNEST(vv)) AS HUGEINT) AS q FROM v),
      s AS (SELECT dim, COUNT(*)::HUGEINT AS n, SUM(q) AS sq,
          MIN(q) AS mn, MAX(q) AS mx FROM x GROUP BY dim)
      SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
        CAST((CASE WHEN sq >= 0 THEN 1 ELSE -1 END) * (ABS(sq) // n)
          AS BIGINT) AS mean_milli,
        CAST(mn AS BIGINT) AS min_milli,
        CAST(mx AS BIGINT) AS max_milli
      FROM s ORDER BY dim"""))

  /** q250 — k-NN majority-vote classification
    * ([[graft.operators.Similarity.knnClassify]], r13): leave-one-out
    * evaluation over the labeled embeddings — every ~97th vector is a
    * held-out query, its 7 nearest LABELED neighbors (self excluded
    * BEFORE ranking) vote, ties break to the smallest label. The
    * oracle replays q20's proven bit-equal cosine chain plus the vote
    * argmax; the output adds the truth join and a correctness bit, so
    * the gate pins prediction AND evaluation accounting.
    */
  private val q250 = Q("q250_knn_classify",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") % 97 === 3)
      Similarity.knnClassify(qs, e, "vec_id", "vec_id", "embedding",
          "label", k = 7)
        .join(qs.select(col("vec_id").as("qid"),
          col("label").cast("long").as("true_label")), Seq("qid"))
        .select(col("qid"), col("true_label"), col("pred_label"),
          col("votes"),
          when(col("pred_label") === col("true_label"), 1L)
            .otherwise(0L).as("correct"))
        .orderBy(col("qid"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid,
          CAST(embedding AS DOUBLE[]) AS av,
          CAST(label AS BIGINT) AS tl
        FROM embeddings WHERE vec_id % 97 = 3),
      c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS bv,
          CAST(label AS BIGINT) AS label
        FROM embeddings WHERE label IS NOT NULL),
      scored AS (SELECT qid, nid, label,
          (list_dot_product(bv, av) /
            (SQRT(list_dot_product(av, av))
              * SQRT(list_dot_product(bv, bv)))) AS sim
        FROM c, q WHERE qid <> nid),
      ranked AS (SELECT qid, nid, label,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, nid) AS rk
        FROM scored WHERE sim IS NOT NULL),
      votes AS (SELECT qid, label, COUNT(*) AS votes
        FROM ranked WHERE rk <= 7 GROUP BY qid, label),
      win AS (SELECT qid, label AS pred_label, votes,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY votes DESC, label) AS vr
        FROM votes)
      SELECT w.qid, t.tl AS true_label, w.pred_label,
        CAST(w.votes AS BIGINT) AS votes,
        CAST(CASE WHEN w.pred_label = t.tl THEN 1 ELSE 0 END
          AS BIGINT) AS correct
      FROM win w JOIN (SELECT qid, tl FROM q) t USING (qid)
      WHERE w.vr = 1 ORDER BY w.qid"""))

  /** q254 — CORPUS-SIZED embedding near-dup pairs
    * ([[graft.operators.Similarity.cosineNearDupPairsSized]], r13):
    * the production twin of q38's fixed-parameter audit form. Band
    * width derives from the corpus count —
    * bits = clamp(⌈ln(n/64)/ln 2⌉, 4, 15), constant expected bucket
    * occupancy — which is the measured fix for the fixed-parameter
    * Θ(N²/2^bits) law (q38 ran 23.7× at the 10× fixture; sizing keeps
    * the candidate join linear-ish). The oracle computes the SAME
    * sizing from COUNT(*) (margins to every ceil boundary ≥ 0.03 at
    * all gate SFs — the q72 rule) and restricts one inlined
    * 60-plane matrix to the first 4·bits rows: `hyperplanes(p)` fills
    * row-major from one seeded stream, so a longer matrix's prefix IS
    * the shorter matrix (spec-pinned below via the q38 equivalence at
    * the small SF, where bits clamps to 4 and the two forms coincide).
    */
  private val q254 = Q("q254_embed_neardup_sized",
    (s, dir) => {
      Similarity.cosineNearDupPairsSized(t(s, dir, "embeddings"),
        idCol = "vec_id", vecCol = "embedding",
        threshold = 0.4, dim = 64)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some {
      val hp = Similarity.hyperplanes(60, 64)
      val hpValues = hp.zipWithIndex.map { case (p, i) =>
        s"(${i}, [${p.mkString(", ")}])"
      }.mkString(",\n        ")
      s"""WITH nn AS (SELECT LEAST(15, GREATEST(4,
          CAST(CEIL(LN(COUNT(*) / 64.0) / LN(2.0)) AS INTEGER)))
          AS bits FROM embeddings),
      hp(plane_id, pv) AS (VALUES
        $hpValues),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        FROM embeddings),
      sigs AS (SELECT v.vec_id,
          CAST(SUM(CASE WHEN list_dot_product(v.vv, hp.pv) > 0
            THEN (CAST(1 AS BIGINT) << hp.plane_id) ELSE 0 END) AS BIGINT)
            AS sig
        FROM v CROSS JOIN hp, nn
        WHERE hp.plane_id < 4 * nn.bits GROUP BY v.vec_id),
      bands AS (SELECT UNNEST(RANGE(4)) AS b),
      banded AS (SELECT s.vec_id AS id, bands.b,
          (s.sig >> (CAST(bands.b AS INTEGER) *
            (SELECT bits FROM nn))) &
            ((CAST(1 AS BIGINT) << (SELECT bits FROM nn)) - 1) AS bv
        FROM sigs s CROSS JOIN bands),
      cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM banded x JOIN banded y
          ON x.b = y.b AND x.bv = y.bv AND x.id < y.id),
      scored AS (SELECT cand.id_a, cand.id_b,
          (list_dot_product(a.vv, b.vv) /
            (SQRT(list_dot_product(a.vv, a.vv)) *
             SQRT(list_dot_product(b.vv, b.vv)))) AS sim
        FROM cand JOIN v a ON cand.id_a = a.vec_id
        JOIN v b ON cand.id_b = b.vec_id)
      SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.4
      ORDER BY id_a, id_b"""
    })

  val all: Seq[Q] =
    Seq(q20, q21, q22, q31, q38, q49, q58, q73, q86, q91, q100, q101,
      q102, q103, q104, q105, q119, q126, q128, q178, q187, q229,
      q250, q254)
}
