package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("hashSample is deterministic and partitioning-invariant") {
    val a = Sampling.hashSample(docs, "doc_id", 0.5, "s1")
      .select($"doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs.repartition(7), "doc_id", 0.5, "s1")
      .select($"doc_id").as[Long].collect().toSet
    assert(a == b)
    // a different salt draws a genuinely different sample
    val c = Sampling.hashSample(docs, "doc_id", 0.5, "s2")
      .select($"doc_id").as[Long].collect().toSet
    assert(a != c)
  }

  test("null keys bucket exactly like the [NULL] sentinel string") {
    val df = Seq(Some("k1"), None, Some(Sampling.NullKey)).toDF("key")
    val out = df.select(Sampling.hashBucket($"key", "s").as("b"))
      .collect()
    // null is a REAL bucket (no silent drop), identical to the literal
    // sentinel on both the Column form and every SQL mirror
    assert(!out(1).isNullAt(0))
    assert(out(1).getLong(0) == out(2).getLong(0))
    assert(out(0).getLong(0) != out(1).getLong(0))
  }

  test("hashSample rate is near the requested fraction") {
    val n = docs.count().toDouble
    for (f <- Seq(0.1, 0.5, 0.9)) {
      val kept = Sampling.hashSample(docs, "doc_id", f, "rate").count()
      assert(math.abs(kept / n - f) < 0.1, s"fraction $f got ${kept / n}")
    }
    assert(Sampling.hashSample(docs, "doc_id", 0.0, "z").count() == 0)
    assert(Sampling.hashSample(docs, "doc_id", 1.0, "z").count() == n)
  }

  test("assignSplits: disjoint, exhaustive when weights sum to 1") {
    val s = Sampling.assignSplits(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "graft")
    assert(s.filter($"split".isNull).count() == 0)
    val byName = s.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > byName("val"))
    // weights sum < 1 leaves a null holdout
    val h = Sampling.assignSplits(docs, "doc_id",
      Seq("train" -> 0.5), "graft")
    assert(h.filter($"split".isNull).count() > 0)
  }

  test("assignSplitsLeakageFree: cluster members share the rep's split") {
    // comp 1 = {1, 2, 900}, comp 5 = {5, 6}; everything else singleton
    val labels = Seq((1L, 1L), (2L, 1L), (900L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "comp")
    val base = docs.limit(0).sparkSession.range(0, 1000)
      .select($"id".as("doc_id"))
    val s = Sampling.assignSplitsLeakageFree(base, "doc_id", labels,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "graft")
    val bySplit = s.groupBy($"rep_id")
      .agg(countDistinct($"split").as("k")).filter($"k" > 1).count()
    assert(bySplit == 0)
    // members keyed by the representative, not themselves
    val m = s.filter($"doc_id".isin(1L, 2L, 900L))
      .select($"rep_id", $"split").distinct()
      .as[(Long, String)].collect().toSet
    assert(m.size == 1 && m.head._1 == 1L, m.toString)
    // singletons degrade to exactly the per-doc assignSplits
    val plain = Sampling.assignSplits(base, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "graft")
      .filter(!$"doc_id".isin(1L, 2L, 900L, 5L, 6L))
      .select($"doc_id", $"split")
    val singles = s.filter(!$"doc_id".isin(1L, 2L, 900L, 5L, 6L))
      .select($"doc_id", $"split")
    assert(plain.exceptAll(singles).count() == 0 &&
      singles.exceptAll(plain).count() == 0)
  }

  test("mixDomains applies per-domain rates; defaultRate covers the rest") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.0)
    val kept = Sampling.mixDomains(docs, "source", "doc_id", rates, "m")
    val bySrc = kept.groupBy($"source").count().as[(String, Long)]
      .collect().toMap
    val n0 = docs.filter($"source" === "src0").count()
    assert(bySrc.getOrElse("src0", 0L) == n0) // rate 1.0 keeps all
    assert(!bySrc.contains("src1"))           // rate 0.0 drops all
    assert(bySrc.keySet == Set("src0"))       // defaultRate 0 drops others
    val withDefault = Sampling.mixDomains(docs, "source", "doc_id",
      rates, "m", defaultRate = 1.0)
    assert(withDefault.count() ==
      docs.count() - docs.filter($"source" === "src1").count())
  }

  test("stratifiedTopK: exactly k per stratum, deterministic, disjoint salts") {
    val a = Sampling.stratifiedTopK(docs, "source", "doc_id", 3, "s1")
    val counts = a.groupBy($"source").count().as[(String, Long)].collect()
    assert(counts.forall(_._2 == 3L))
    val ids1 = a.select($"doc_id").as[Long].collect().toSet
    val ids2 = Sampling.stratifiedTopK(docs.repartition(5), "source",
      "doc_id", 3, "s1").select($"doc_id").as[Long].collect().toSet
    assert(ids1 == ids2) // partitioning-invariant
    val ids3 = Sampling.stratifiedTopK(docs, "source", "doc_id", 3, "s2")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids1 != ids3) // salt draws a different sample
  }

  test("assignShardsBalanced: exhaustive, and tighter than hash sharding") {
    val n = 8
    val sharded = Sampling.assignShardsBalanced(
      docs.select($"doc_id", $"n_chars"), "n_chars", "doc_id", n)
    val sums = sharded.groupBy($"shard")
      .agg(sum($"n_chars").as("w"), count(lit(1)).as("c"))
      .as[(Long, Long, Long)].collect()
    assert(sums.map(_._1).sorted.toSeq == (0L until n.toLong))
    assert(sums.map(_._3).sum == docs.count())
    // round-robin over the size-sorted order: spread bounded by the
    // largest single document
    val spread = sums.map(_._2).max - sums.map(_._2).min
    val maxDoc = docs.agg(max($"n_chars")).head().getLong(0)
    assert(spread <= maxDoc, s"spread $spread > max doc $maxDoc")
    // and strictly tighter than hash-random sharding on this corpus
    val hashSums = docs
      .withColumn("shard", pmod(Sampling.hashBucket($"doc_id", "shrd"),
        lit(n.toLong)))
      .groupBy($"shard").agg(sum($"n_chars").as("w"))
      .as[(Long, Long)].collect().map(_._2)
    val hashSpread = hashSums.max - hashSums.min
    assert(spread < hashSpread,
      s"balanced spread $spread !< hash spread $hashSpread")
  }

  test("assignShardsStratified: bounded spread, tighter than hash, no global sort") {
    val n = 8
    val strata = 4
    val weighted = docs.select($"doc_id", $"n_chars")
    val sharded = Sampling.assignShardsStratified(
      weighted, "n_chars", "doc_id", n, strata, "s-spec")
    val sums = sharded.groupBy($"shard")
      .agg(sum($"n_chars").as("w"), count(lit(1)).as("c"))
      .as[(Long, Long, Long)].collect()
    // exhaustive: every row lands in exactly one of the n shards
    assert(sums.map(_._1).sorted.toSeq == (0L until n.toLong))
    assert(sums.map(_._3).sum == docs.count())
    // per-stratum dealing bound composes: spread ≤ strata × max doc
    val spread = sums.map(_._2).max - sums.map(_._2).min
    val maxDoc = docs.agg(max($"n_chars")).head().getLong(0)
    assert(spread <= strata.toLong * maxDoc,
      s"spread $spread > strata×maxDoc ${strata.toLong * maxDoc}")
    // strictly tighter than plain hash mod n on the same corpus
    val hashSums = docs
      .withColumn("shard", pmod(Sampling.hashBucket($"doc_id", "shrd"),
        lit(n.toLong)))
      .groupBy($"shard").agg(sum($"n_chars").as("w"))
      .as[(Long, Long)].collect().map(_._2)
    val hashSpread = hashSums.max - hashSums.min
    assert(spread < hashSpread,
      s"stratified spread $spread !< hash spread $hashSpread")
    // deterministic and partitioning-invariant
    val a = sharded.select($"doc_id", $"shard").as[(Long, Long)]
      .collect().toMap
    val b = Sampling.assignShardsStratified(weighted.repartition(7),
        "n_chars", "doc_id", n, strata, "s-spec")
      .select($"doc_id", $"shard").as[(Long, Long)].collect().toMap
    assert(a == b)
    // the scale property itself: every window in the plan is
    // partitioned — NO global (empty-partitionBy) sort task
    // (logical plan: AQE hides physical WindowExec from tree collect)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = sharded.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "found a global (unpartitioned) window in the stratified plan")
  }

  test("temperatureMix flattens skewed domains; α=1 is identity; rarest keeps all") {
    // skew: src0 tiny ... src19 large (same rule as q64)
    val skew = docs.filter(pmod($"n_chars", lit(25)) <
      substring($"source", 4, 10).cast("int") + 5)
    val pre = skew.groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    val post = Sampling.temperatureMix(skew, "source", "doc_id", 0.5, "t")
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    def ratio(m: Map[String, Long]) =
      m.values.max.toDouble / m.values.min.toDouble
    assert(ratio(post) < ratio(pre),
      s"post ${ratio(post)} not flatter than pre ${ratio(pre)}")
    // the rarest domain's rate caps at 1: every row kept
    val rarest = pre.minBy(_._2)._1
    assert(post(rarest) == pre(rarest))
    // α = 1: composition untouched
    val id = Sampling.temperatureMix(skew, "source", "doc_id", 1.0, "t")
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(id == pre)
    // NULL domains: dropped, not a map-literal crash
    val withNull = Seq((1L, Option("a")), (2L, Option.empty[String]),
      (3L, Option("a"))).toDF("id", "dom")
    val kept = Sampling.temperatureMix(withNull, "dom", "id", 0.5, "t")
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    // non-string domain columns compare by string form — no crash
    val intDom = Seq((1L, 1), (2L, 1), (3L, 2)).toDF("id", "dom")
    assert(Sampling.temperatureMix(intDom, "dom", "id", 1.0, "t")
      .count() == 3)
  }

  test("temperatureMix persistUpstream: one upstream pass; sample unchanged") {
    val data = (0L until 60L).map(i => (i, s"src${i % 3}"))
    val acc = spark.sparkContext.longAccumulator("mix-reads")
    def instrumented() = spark.sparkContext.parallelize(data, 4)
      .map { t => acc.add(1); t }.toDF("doc_id", "source")
    acc.reset()
    val plain = Sampling.temperatureMix(instrumented(), "source", "doc_id",
      0.5, "t")
    val plainRows = plain.collect().map(_.toSeq).toSet
    assert(acc.value == 2L * data.size,
      s"expected two passes by default, saw ${acc.value}")
    acc.reset()
    val pinned = Sampling.temperatureMix(instrumented(), "source", "doc_id",
      0.5, "t", persistUpstream = true)
    assert(acc.value == data.size,
      s"expected ONE upstream pass with persistUpstream, saw ${acc.value}")
    assert(pinned.collect().map(_.toSeq).toSet == plainRows)
    assert(acc.value == data.size, "consuming the snapshot re-read upstream")
    pinned.unpersist(blocking = false)
  }

  test("sampling filter is a narrow plan — no exchange") {
    val plan = Sampling.hashSample(docs, "doc_id", 0.5, "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  // budget selection fixture: two sources, known scores/costs with a
  // score tie crossing the budget boundary in srcB
  private def budgetFixture = Seq(
    // srcA: distinct scores — boundary falls on a group edge
    ("a", 1L, 9L, 300L), ("a", 2L, 8L, 300L), ("a", 3L, 7L, 300L),
    ("a", 4L, 6L, 300L),
    // srcB: tied score 5 straddles the budget
    ("b", 5L, 9L, 400L), ("b", 6L, 5L, 300L), ("b", 7L, 5L, 300L),
    ("b", 8L, 5L, 300L), ("b", 9L, 1L, 100L)
  ).toDF("src", "id", "score", "cost")

  test("budgetSelect == driver-side greedy prefix; deterministic on ties") {
    val got = Sampling.budgetSelect(budgetFixture, "src", "score", "cost",
        "id", 1000L)
      .select($"src", $"id", $"cum_cost").as[(String, Long, Long)]
      .collect().toSet
    // srcA: 300,600,900 then 1200 > 1000 → ids 1,2,3
    // srcB: 400(id5),700(id6),1000(id7) then 1300 → ids 5,6,7 (tie by id)
    assert(got == Set(("a", 1L, 300L), ("a", 2L, 600L), ("a", 3L, 900L),
      ("b", 5L, 400L), ("b", 6L, 700L), ("b", 7L, 1000L)))
  }

  test("budget selection fails fast on NULL score or NULL/negative cost") {
    val negCost = Seq(("a", 1L, 9L, 600L), ("a", 2L, 8L, 600L),
      ("a", 3L, 7L, -300L)).toDF("src", "id", "score", "cost")
    val e1 = intercept[Exception] {
      Sampling.budgetSelect(negCost, "src", "score", "cost", "id", 1000L)
        .collect()
    }
    assert((e1.getMessage + Option(e1.getCause).map(_.getMessage)
      .getOrElse("")).contains("negative"), e1.toString)
    val nullScore = Seq(("a", 1L, Some(9L), 600L), ("a", 2L, None, 600L))
      .toDF("src", "id", "score", "cost")
    val e2 = intercept[Exception] {
      Sampling.budgetSelect(nullScore, "src", "score", "cost", "id", 1000L)
        .collect()
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage)
      .getOrElse("")).contains("non-null"), e2.toString)
  }

  test("epochExpand: full copies exact, fraction hash-keyed, 0 drops, no exchange") {
    val rows = (0 until 400).map(i =>
      (i.toLong, Seq("a", "b", "c", "d")(i % 4)))
    val df = rows.toDF("id", "src")
    val out = Sampling.epochExpand(df, "id", "src",
      Map("a" -> 2.5, "b" -> 1.0, "c" -> 0.0, "d" -> 0.5), salt = "e")
    val got = out.select($"id", $"src", $"epoch")
      .as[(Long, String, Long)].collect().toSeq
    val bySrc = got.groupBy(_._2)
    // factor 0.0: source vanishes entirely
    assert(!bySrc.contains("c"))
    // factor 1.0: exactly one epoch-0 copy per row
    assert(bySrc("b").size == 100 && bySrc("b").forall(_._3 == 0L))
    // factor 2.5: every row has epochs {0,1}, a strict subset gains 2
    val aCopies = bySrc("a").groupBy(_._1).view.mapValues(_.map(_._3).sorted)
    assert(aCopies.values.forall(e =>
      e == Seq(0L, 1L) || e == Seq(0L, 1L, 2L)))
    val aExtra = aCopies.values.count(_.size == 3)
    assert(aExtra > 20 && aExtra < 80, s"~half expected, got $aExtra/100")
    // factor 0.5: surviving rows carry epoch 0 only
    assert(bySrc("d").forall(_._3 == 0L))
    assert(bySrc("d").size > 20 && bySrc("d").size < 80)
    // the fractional pick matches hashSample's bucket convention exactly
    val sampled = Sampling.hashSample(df.filter($"src" === "d"), "id",
      0.5, salt = "e").select($"id").as[Long].collect().toSet
    assert(bySrc("d").map(_._1).toSet == sampled)
    // a source value absent from the factor map takes defaultFactor
    val dflt = Sampling.epochExpand(df.limit(5), "id", "src",
      Map("zzz" -> 3.0), salt = "e", defaultFactor = 2.0)
    assert(dflt.count() == 10)
    // narrow plan: no exchange at all
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException] {
      Sampling.epochExpand(df, "id", "src", Map("a" -> 250.0))
    }
  }

  test("weightedTopK == driver-side A-ES reference; partitioning-invariant") {
    // driver reference: same bucket → u → ⌊10⁶·ln(u)/w⌋ → top-k per
    // stratum, rebuilt from collected buckets with java.lang.Math.log
    // (the same JVM ln Spark's Log expression evaluates)
    val k = 5
    val base = docs.select($"doc_id", $"source", $"n_chars",
        Sampling.hashBucket($"doc_id", "wrs").as("bucket"))
      .as[(Long, String, Long, Long)].collect()
    val expect = base.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.map { case (id, src, w, b) =>
        val u = (b.toDouble + 1.0) / Sampling.BucketSpace.toDouble
        val key = math.floor(
          Sampling.WrsKeyScale.toDouble * math.log(u) / w.toDouble).toLong
        (src, key, id)
      }.sortBy { case (_, key, id) => (-key, id) }
        .take(k).zipWithIndex
        .map { case ((src, key, id), i) => (id, src, key, i + 1L) }
    }.toSet
    val got = Sampling.weightedTopK(docs, "doc_id", "n_chars", k, "wrs",
      strataCol = Some("source"))
      .select($"doc_id", $"source", $"wkey", $"rk")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == expect)
    val reparted = Sampling.weightedTopK(docs.repartition(7), "doc_id",
      "n_chars", k, "wrs", strataCol = Some("source"))
      .select($"doc_id", $"source", $"wkey", $"rk")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(reparted == got)
    // every stratum filled to k (fixture has ≥ k docs per source)
    assert(got.size == base.map(_._2).distinct.length * k)
  }

  test("weightedTopK: weights bias inclusion toward heavy rows") {
    // 1000 rows, two weight classes ×9 apart: the heavy half must take
    // the overwhelming share of a k=100 sample (A-ES inclusion ∝ w)
    val df = (0L until 1000L)
      .map(i => (i, if (i < 500) 90.0 else 10.0)).toDF("id", "w")
    val picked = Sampling.weightedTopK(df, "id", "w", 100, "bias")
      .select($"id").as[Long].collect()
    assert(picked.length == 100)
    val heavy = picked.count(_ < 500)
    assert(heavy > 75, s"heavy-class share $heavy of 100 too low for 9:1 weights")
  }

  test("weightedTopK global path: no strata, TakeOrderedAndProject, k rows") {
    val k = 7
    val out = Sampling.weightedTopK(docs, "doc_id", "n_chars", k, "wrs")
    assert(out.count() == k)
    // rank is dense 1..k by (wkey desc, id)
    val rows = out.select($"wkey", $"doc_id", $"rk")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(rows.map(_._3).toSeq == (1L to k.toLong))
    assert(rows.sortBy(r => (-r._1, r._2)).map(_._3).toSeq ==
      (1L to k.toLong))
    // the global sort is a TakeOrderedAndProject, not a full sort or a
    // single-partition corpus window
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("weightedTopK fails fast on NULL or non-positive weight; margin guard") {
    val bad = Seq((1L, Some(5.0)), (2L, None)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.weightedTopK(bad, "id", "w", 1, "s").collect()
    }
    assert(e.getMessage.contains("weightedTopK"))
    val neg = Seq((1L, 5.0), (2L, -1.0)).toDF("id", "w")
    val e2 = intercept[Exception] {
      Sampling.weightedTopK(neg, "id", "w", 1, "s").collect()
    }
    assert(e2.getMessage.contains("weightedTopK"))
    // margin guard: an absurd threshold (0.5 — fractions are uniform)
    // must throw on a 500-row fixture; a sane one must not
    intercept[IllegalStateException] {
      Sampling.weightedTopK(docs, "doc_id", "n_chars", 3, "wrs",
        minQuantMargin = Some(0.5))
    }
    assert(Sampling.weightedTopK(docs, "doc_id", "n_chars", 3, "wrs",
      minQuantMargin = Some(1e-9)).count() == 3)
    // empty input: the audit min() is NULL — must skip cleanly, not
    // NPE on getDouble
    assert(Sampling.weightedTopK(docs.filter($"doc_id" < 0), "doc_id",
      "n_chars", 3, "wrs", minQuantMargin = Some(0.5)).count() == 0)
  }

  test("srmCheck: spans audit the real boundaries; holdout covered") {
    import org.apache.spark.sql.functions._
    val ids = spark.range(0, 2000).toDF("id")
    val splits = Seq("a" -> 0.5, "b" -> 0.25) // 25% holdout
    val got = Sampling.srmCheck(ids, "id", splits, "s")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // spans are the exact round(cum*2^32) deltas; counts match a
    // direct assignSplits replay, holdout catches the unassigned
    val assigned = Sampling.assignSplits(ids, "id", splits, "s")
      .groupBy(coalesce(col("split"), lit("[HOLDOUT]")).as("s"))
      .count().as[(String, Long)].collect().toMap
    Seq("a", "b", "[HOLDOUT]").foreach { s =>
      assert(got(s)._1 == assigned(s), s)
    }
    assert(got.values.map(_._2).sum == Sampling.BucketSpace)
    // a near-fair split: every chi2 term small (< 10 == chi2 < 1e-5
    // per cell is too strict; just bound by a loose 10e6)
    assert(got.values.forall(_._3 < 10000000L), got.toString)
    // a REAL mismatch — lossy logging that drops half of split-a's
    // bucket range before the audit — must inflate a's chi2 term
    val aBound = math.round(0.5 * Sampling.BucketSpace)
    val lossy = ids.filter(
      Sampling.hashBucket(col("id"), "s") >= aBound / 2)
    val bad = Sampling.srmCheck(lossy, "id", splits, "s")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(bad("a") > got("a")._3 * 100,
      s"dropped rows must inflate chi2: $bad vs $got")
  }

  test("srmFromCounts refuses counts with unknown split names") {
    val splits = Seq("train" -> 0.6, "test" -> 0.3)
    // a drifted persisted counts table: a renamed split would
    // otherwise fold silently into N and deflate every chi2 term
    val counts = Seq(("train", 100L), ("validation", 40L),
      ("test", 50L)).toDF("split", "n_obs")
    val e = intercept[IllegalArgumentException] {
      Sampling.srmFromCounts(counts, splits)
    }
    assert(e.getMessage.contains("validation"), e.getMessage)
    // null split names are reported too, not swallowed
    val withNull = Seq((Some("train"), 100L), (None, 7L))
      .toDF("split", "n_obs")
    val e2 = intercept[IllegalArgumentException] {
      Sampling.srmFromCounts(withNull, splits)
    }
    assert(e2.getMessage.contains("[NULL]"), e2.getMessage)
  }

  test("essWeights: equal weights are free, one heavy row collapses") {
    import spark.implicits._
    // equal weights: ESS == n exactly, ppm == 10^6
    val eq = Seq(("a", 7L), ("a", 7L), ("a", 7L), ("a", 7L))
      .toDF("g", "w")
    val gotE = Sampling.essWeights(eq, "g", "w")
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(gotE == (("a", 4L, 28L, 4L, 1000000L)), gotE.toString)
    // one dominant weight: (1+1+98)^2 // (1+1+9604) = 10000//9606 = 1
    val dom = Seq(("b", 1L), ("b", 1L), ("b", 98L)).toDF("g", "w")
    val gotD = Sampling.essWeights(dom, "g", "w")
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(gotD == (("b", 3L, 100L, 1L, 333333L)), gotD.toString)
    // zero/negative/null weights and null groups drop
    val messy = Seq((Some("c"), Some(5L)), (Some("c"), Some(0L)),
      (Some("c"), Some(-3L)), (Some("c"), None), (None, Some(9L)),
      (Some("c"), Some(5L))).toDF("g", "w")
    val gotM = Sampling.essWeights(messy, "g", "w")
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(gotM == (("c", 2L, 10L, 2L, 1000000L)), gotM.toString)
  }
}
