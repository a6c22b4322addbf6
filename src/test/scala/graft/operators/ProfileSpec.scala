package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("quantileTrim: rank band is exact, deterministic, per group") {
    val df = Seq.tabulate(40)(i => (i.toLong, if (i < 20) "a" else "b",
      (i % 20).toLong * 10)).toDF("id", "src", "v")
    val kept = Profile.quantileTrim(df, "src", "v", "id", 0.1, 0.9)
      .groupBy($"src").agg(count(lit(1)).as("n"),
        min($"v").as("lo"), max($"v").as("hi"))
      .as[(String, Long, Long, Long)].collect().toSet
    // n=20 per group: ranks 2..18 → 17 rows, values 10..170
    assert(kept == Set(("a", 17L, 10L, 170L), ("b", 17L, 10L, 170L)))
  }

  test("quantileTrim: NULL values rank last (pinned cross-engine order)") {
    val df = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(30L)),
      (4L, Option.empty[Long]), (5L, Some(40L)))
      .toDF("id", "v").withColumn("src", lit("a"))
    // hi=0.8 on n=5 keeps ranks 1..4; the NULL must be rank 5 (trimmed),
    // matching DuckDB's default NULLS LAST — not Spark's NULLS FIRST
    val kept = Profile.quantileTrim(df, "src", "v", "id", 0.0, 0.8)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 5L))
  }

  test("tokenDriftChi2 == BigInt driver reference on real docs") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("source"), col("text"))
    val V = 20
    // driver reference: same vocab rule, same quantized cell algebra
    val local = docs.as[(String, String)].collect().toSeq
    def toks(s: String) = graft.functions.TextFunctions
      .normalizeString(s).split(" ").filter(_.nonEmpty).toSeq
    val gt = local.flatMap { case (g, t) => toks(t).map(g -> _) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = gt.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val vocab = ct.toSeq.sortBy { case (t, c) => (-c, t) }.take(V)
    val ns = gt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val bigN = ns.values.sum
    val cOther = bigN - vocab.map(_._2).sum
    def term(o: Long, nS: Long, c: Long): BigInt = {
      val d = BigInt(o) * bigN - BigInt(nS) * c
      d * d * 1000000L / (BigInt(bigN) * nS * c)
    }
    val want = ns.map { case (g, nS) =>
      val vTerms = vocab.map { case (t, c) =>
        term(gt.getOrElse((g, t), 0L), nS, c) }.sum
      val oOther = nS - vocab.map { case (t, _) =>
        gt.getOrElse((g, t), 0L) }.sum
      val all = if (cOther > 0) vTerms + term(oOther, nS, cOther)
        else vTerms
      (g, nS, all.toLong)
    }.toSeq.sortBy(_._1)
    val got = Profile.tokenDriftChi2(docs, "source", "text", V)
      .orderBy(col("grp")).as[(String, Long, Long)].collect().toSeq
    assert(got == want, s"first diff: ${
      got.zip(want).find(p => p._1 != p._2)}")
  }

  test("tokenDriftChi2: uniform groups score ~0; a skewed group spikes") {
    // two groups with IDENTICAL token mixes -> every cell has o == e
    // exactly (equal halves), chi2 == 0
    val even = Seq(("a", "x x y z"), ("b", "x x y z"))
      .toDF("g", "text")
    val r1 = Profile.tokenDriftChi2(even, "g", "text", vocabSize = 10)
      .as[(String, Long, Long)].collect()
      .map { case (g, n, c) => g -> ((n, c)) }.toMap
    assert(r1 == Map("a" -> ((4L, 0L)), "b" -> ((4L, 0L))), r1.toString)
    // vocabulary covers everything -> the other bucket must vanish
    // (no division by a zero corpus count); skewed group dominates
    val skew = Seq(("a", "x x x x x x x x"), ("b", "y y y y y y y y"))
      .toDF("g", "text")
    val r2 = Profile.tokenDriftChi2(skew, "g", "text", vocabSize = 10)
      .as[(String, Long, Long)].collect()
      .map { case (g, _, c) => g -> c }.toMap
    // o=8,e=4 on own token and o=0,e=4 on the other: per cell
    // (8*16-8*8)^2*1e6/(16*8*8) = 4e6; two cells -> 8e6 per group
    assert(r2 == Map("a" -> 8000000L, "b" -> 8000000L), r2.toString)
  }

  test("zipfFit matches an exact BigInt OLS reference; 1-type group null") {
    // hand fixture: freqs 4,2,1,1 with a tie broken by token order
    val df = Seq(
      ("g1", "aa aa aa aa bb bb cc dd"),
      ("g2", "solo solo solo")).toDF("g", "text")
    val got = Profile.zipfFit(df, "g", "text")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // reference: quantized points (rank, freq) = (1,4),(2,2),(3,1),(4,1)
    def q(k: Long): BigInt = BigInt(math.floor(1e6 * math.log(k)).toLong)
    val pts = Seq((1L, 4L), (2L, 2L), (3L, 1L), (4L, 1L))
      .map { case (r, c) => (q(r), q(c)) }
    val n = BigInt(pts.size)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expect = (BigInt(1000000) * (sx * sy - n * sxy)) /
      (n * sxx - sx * sx) // all values non-negative: / == div == floor
    assert(got("g1") == ((4L, 8L, Some(expect.toLong))), got.toString)
    assert(got("g2") == ((1L, 3L, None)), got.toString)
    // the neg numerator really is non-negative (the div/floor accord)
    assert(sx * sy - n * sxy >= 0)
  }

  test("benfordChi2 == BigInt reference; Benford-ish beats uniform digits") {
    // g1: first digits follow a rough Benford shape; g2: all the same
    // digit (maximally non-Benford at equal n)
    val g1 = Seq(1L, 1L, 1L, 10L, 12L, 2L, 25L, 3L, 4L, 6L)
    val g2 = Seq.fill(10)(500L)
    val df = (g1.map(("g1", _)) ++ g2.map(("g2", _))).toDF("g", "v")
    val got = Profile.benfordChi2(df, "g", "v")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // driver reference in BigInt over the same ppm literals
    def ref(vals: Seq[Long]): Long = {
      val o = vals.map(_.toString.head.asDigit)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = BigInt(vals.size)
      Profile.BenfordPpm.map { case (d, p) =>
        val diff = BigInt(1000000) * BigInt(o.getOrElse(d, 0L)) - n * p
        (diff * diff * BigInt(1000000)) / (n * p * BigInt(1000000))
      }.sum.toLong
    }
    assert(got("g1") == ((10L, ref(g1))), got.toString)
    assert(got("g2") == ((10L, ref(g2))), got.toString)
    assert(got("g2")._2 > got("g1")._2, "uniform digits must spike")
    // zeros and negatives drop before digit extraction
    val g3 = Seq(("g3", 0L), ("g3", -5L), ("g3", 7L)).toDF("g", "v")
    assert(Profile.benfordChi2(g3, "g", "v")
      .as[(String, Long, Long)].collect().head._2 == 1L)
  }

  test("heapsFit matches an exact BigInt OLS reference; empty docs hold") {
    // g1 trajectory: doc1 (3 tok, 3 new), doc2 (2 tok, 1 new),
    // doc3 EMPTY (repeat point), doc4 (2 tok, 0 new)
    val df = Seq(
      ("g1", 1L, "aa bb cc"), ("g1", 2L, "aa dd"), ("g1", 3L, ""),
      ("g1", 4L, "bb cc"),
      ("g2", 9L, "solo")).toDF("g", "doc_id", "text")
    val got = Profile.heapsFit(df, "g", "doc_id", "text")
      .as[(String, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def q(k: Long): BigInt = BigInt(math.floor(1e6 * math.log(k)).toLong)
    val pts = Seq((3L, 3L), (5L, 4L), (5L, 4L), (7L, 4L))
      .map { case (n, v) => (q(n), q(v)) }
    val n = BigInt(pts.size)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expect = (BigInt(1000000) * (n * sxy - sx * sy)) /
      (n * sxx - sx * sx)
    assert(n * sxy - sx * sy >= 0) // the div/floor accord
    assert(got("g1") == ((4L, Some(expect.toLong))), got.toString)
    // single doc: N constant across one point -> zero denominator
    assert(got("g2") == ((1L, None)), got.toString)
  }

  test("heaps quantization margins are auditable on the gate fixtures") {
    val m = Profile.heapsQuantMargin(docs, "source", "doc_id", "text")
    info(f"sf0.001 heaps quantization margin = $m%.3e")
    assert(m > 1e-6, s"margin $m too close to a floor boundary")
    Profile.heapsFit(docs, "source", "doc_id", "text",
      minQuantMargin = Some(1e-7)).collect()
    intercept[IllegalStateException] {
      Profile.heapsFit(docs, "source", "doc_id", "text",
        minQuantMargin = Some(1.0)).collect()
    }
  }

  test("zipf quantization margins are auditable on the gate fixtures") {
    val m = Profile.zipfQuantMargin(docs, "source", "text")
    info(f"sf0.001 zipf quantization margin = $m%.3e")
    assert(m > 1e-4, s"margin $m too close to a floor boundary")
    // the runtime guard accepts this fixture and rejects an absurd bar
    Profile.zipfFit(docs, "source", "text",
      minQuantMargin = Some(1e-6)).collect()
    intercept[IllegalStateException] {
      Profile.zipfFit(docs, "source", "text",
        minQuantMargin = Some(1.0)).collect()
    }
  }

  test("ksDrift matches a BigInt reference on a hand fixture") {
    val rows = Seq.tabulate(40)(i => ("a", (i % 10).toLong)) ++
      Seq.tabulate(30)(i => ("b", (i % 10 + 5).toLong)) ++ // shifted
      Seq.tabulate(30)(i => ("c", (i % 10).toLong)) ++ // same as a
      Seq(("a", -3L))
    val df = rows.toDF("grp", "v")
    val got = Profile.ksDrift(df, "grp", "v")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    // reference: exact integer KS per group vs rest
    val byGrp = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val allVals = rows.map(_._2).distinct.sorted
    byGrp.foreach { case (g, vs) =>
      val rest = rows.filter(_._1 != g).map(_._2)
      val (na, nb) = (vs.size.toLong, rest.size.toLong)
      val dnum = allVals.map { v =>
        (BigInt(vs.count(_ <= v)) * nb -
          BigInt(rest.count(_ <= v)) * na).abs
      }.max
      val expect = (BigInt(1000000) * dnum / (BigInt(na) * nb)).toLong
      val (gotA, gotB, gotD) = (got(g)._2, got(g)._3, got(g)._4)
      assert((gotA, gotB, gotD) == ((na, nb, Some(expect))),
        s"group $g: got ${got(g)}, expected ($na, $nb, $expect)")
    }
    // shifted group drifts far more than the identically-drawn one
    assert(got("b")._4.get > got("c")._4.get * 2,
      s"shifted group not detected: $got")
  }

  test("ksDrift: single-group corpus reports NULL; NULLs excluded") {
    val one = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", None))
      .toDF("grp", "v")
    val r = Profile.ksDrift(one, "grp", "v")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    assert(r == Seq(("a", 2L, 0L, None)), s"got $r")
  }

  test("giniConcentration matches a BigInt reference; extremes behave") {
    // group "even": all tokens distinct (minimum concentration);
    // group "hot": one token dominates (high concentration)
    val rows = Seq(
      ("even", (1 to 20).map(i => s"t$i").mkString(" ")),
      ("hot", (Seq.fill(50)("aaa") ++ Seq("bb", "cc")).mkString(" ")))
    val df = rows.toDF("grp", "text")
    val got = Profile.giniConcentration(df, "grp", "text")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r)
      .toMap
    // reference in BigInt over the same normalize/tokenize
    rows.foreach { case (g, tx) =>
      val counts = tx.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split("\\s+").toSeq.groupBy(identity).view.mapValues(_.size)
        .toSeq.sortBy { case (t, c) => (c, t) }.map(_._2.toLong)
      val n = BigInt(counts.size)
      val s0 = counts.map(BigInt(_)).sum
      val s1 = counts.zipWithIndex
        .map { case (c, i) => BigInt(i + 1) * c }.sum
      val expect =
        ((BigInt(1000000) * (2 * s1 - (n + 1) * s0)) / (n * s0)).toLong
      assert(got(g) == ((g, n.toLong, s0.toLong, expect)),
        s"group $g: got ${got(g)}, expected ($n, $s0, $expect)")
    }
    // uniform counts -> gini 0; dominated -> decisively larger
    assert(got("even")._4 == 0L, got.toString)
    assert(got("hot")._4 > 500000L, got.toString)
    intercept[IllegalArgumentException] {
      Profile.giniConcentration(df, "grp", "text", scale = 0L)
    }
  }

  test("madOutliers matches a sorted-reference on a planted fixture") {
    // group a: tight cluster around 100 with two wild outliers a mean
    // would chase; group b: clean ramp, no outliers
    val rows = (1L to 21L).map(i => ("a", 100L + (i % 5), i)) ++
      Seq(("a", 100000L, 50L), ("a", -90000L, 51L)) ++
      (1L to 9L).map(i => ("b", 10L * i, 100L + i))
    val df = rows.toDF("grp", "v", "id")
    val got = Profile.madOutliers(df, "grp", "v", "id")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // reference: lower median by (v, id) sort
    def lowerMed(vs: Seq[(Long, Long)]): Long = {
      val s = vs.sortBy(identity).map(_._1)
      s((s.length + 1) / 2 - 1)
    }
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val med = lowerMed(rs.map(r => (r._2, r._3)))
      val mad = lowerMed(rs.map(r => (math.abs(r._2 - med), r._3)))
      val out = rs.count(r => math.abs(r._2 - med) > 3 * mad)
      assert(got(g) == ((g, rs.size.toLong, med, mad, out.toLong)),
        s"group $g: got ${got(g)}, expected ($med, $mad, $out)")
    }
    // the planted extremes are the only outliers in a; b has none
    assert(got("a")._5 == 2L && got("b")._5 == 0L, got.toString)
    intercept[IllegalArgumentException] {
      Profile.madOutliers(df, "grp", "v", "id", k = 0L)
    }
  }

  test("dupRateBy / hapaxRatio: scorecard arithmetic on fixtures") {
    import spark.implicits._
    // s1: 3 docs, two share normalized content (case differs)
    val docs = Seq(("s1", "Hello World"), ("s1", "hello   world!"),
      ("s1", "other text"), ("s2", "unique one"))
      .toDF("source", "text")
    val dup = Profile.dupRateBy(docs, "source", "text")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(dup == Set(("s1", 3L, 2L, 333333L), ("s2", 1L, 1L, 0L)),
      dup.toString)
    // hapax: lang x tokens "a a b" -> vocab 2, hapax 1
    val h = Profile.hapaxRatio(
        Seq(("en", "a a b"), ("de", "x y")).toDF("lang", "text"),
        "lang", "text")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(h == Set(("en", 2L, 1L, 500000L), ("de", 2L, 2L, 1000000L)),
      h.toString)
  }

  test("cramersV2: independence -> 0, perfect association -> 1e6") {
    import spark.implicits._
    // perfectly dependent 2x2: a determines b
    val dep = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val g1 = Profile.cramersV2(dep, "a", "b")
      .as[(Long, Long, Long, Long)].collect().head
    // chi2 = n = 4 -> chi2_micro = 4e6 ; v2 = 4e6/(4*1) = 1e6
    assert(g1 == ((4L, 1L, 4000000L, 1000000L)), g1.toString)
    // exact independence: uniform 2x2 -> chi2 = 0
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val g2 = Profile.cramersV2(ind, "a", "b")
      .as[(Long, Long, Long, Long)].collect().head
    assert(g2 == ((4L, 1L, 0L, 0L)), g2.toString)
    // absent cells still contribute expectation: 2x2 with an empty
    // cell — driver-side replay
    val hole = Seq(("x", "p"), ("x", "q"), ("y", "p")).toDF("a", "b")
    val g3 = Profile.cramersV2(hole, "a", "b")
      .as[(Long, Long, Long, Long)].collect().head
    def term(o: Long, rn: Long, cn: Long, n: Long): Long =
      1000000L * (o * n - rn * cn) * (o * n - rn * cn) / (rn * cn * n)
    val chi = term(1, 2, 2, 3) + term(1, 2, 1, 3) +
      term(1, 1, 2, 3) + term(0, 1, 1, 3)
    assert(g3 == ((3L, 1L, chi, chi / 3L)), s"$g3 vs chi=$chi")
  }

  test("spearmanRho2: exact signed squares at the extremes and ties") {
    import spark.implicits._
    // perfect monotone: rho = 1 -> +1e6 (up to the div-chain floor)
    val up = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("x", "y")
    val g1 = Profile.spearmanRho2(up, "x", "y")
      .as[(Long, Long)].collect().head
    assert(g1 == ((4L, 1000000L)), g1.toString)
    // perfect antitone: -1e6
    val down = Seq((1L, 40L), (2L, 30L), (3L, 20L), (4L, 10L))
      .toDF("x", "y")
    val g2 = Profile.spearmanRho2(down, "x", "y")
      .as[(Long, Long)].collect().head
    assert(g2 == ((4L, -1000000L)), g2.toString)
    // constant column: degenerate variance reports 0
    val const = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("x", "y")
    val g3 = Profile.spearmanRho2(const, "x", "y")
      .as[(Long, Long)].collect().head
    assert(g3 == ((3L, 0L)), g3.toString)
    // ties take midranks: x = (1,1,2,2), y = (1,2,1,2) -> rho = 0
    val tie = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
      .toDF("x", "y")
    val g4 = Profile.spearmanRho2(tie, "x", "y")
      .as[(Long, Long)].collect().head
    assert(g4 == ((4L, 0L)), g4.toString)
  }

  test("mannWhitney: doubled midranks, dominance extremes, ties") {
    import spark.implicits._
    // complete separation: every a < every b -> U_A = 0, rho = 0
    val sep = Seq(("a", 1L), ("a", 2L), ("b", 10L), ("b", 20L),
      ("b", 30L)).toDF("g", "v")
    val lo = Profile.mannWhitney(sep, "g", "v", "a", "b")
      .as[(Long, Long, Long, Long)].collect().head
    assert(lo == ((2L, 3L, 0L, 0L)), lo.toString)
    // reversed: U_A = n1*n2 -> rho = 1
    val hi = Profile.mannWhitney(sep, "g", "v", "b", "a")
      .as[(Long, Long, Long, Long)].collect().head
    assert(hi == ((3L, 2L, 12L, 1000000L)), hi.toString)
    // all-tied: midranks give U = n1*n2/2 exactly -> rho = 0.5
    val tie = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L))
      .toDF("g", "v")
    val mid = Profile.mannWhitney(tie, "g", "v", "a", "b")
      .as[(Long, Long, Long, Long)].collect().head
    // R_A·2 = 2·(2·0+4+1) = 10 ; U·2 = 10 − 2·3 = 4 ; rho = 4/8
    assert(mid == ((2L, 2L, 4L, 500000L)), mid.toString)
    intercept[IllegalArgumentException] {
      Profile.mannWhitney(tie, "g", "v", "a", "a")
    }
  }

  test("quantileNormalize: per-row pooled rank map on a hand fixture") {
    import spark.implicits._
    // group a: 10, 30 ; group b: 100, 200, 300
    // pooled order: 10, 30, 100, 200, 300 (N=5)
    val df = Seq(("a", 10L, 1L), ("a", 30L, 2L), ("b", 100L, 3L),
      ("b", 200L, 4L), ("b", 300L, 5L)).toDF("g", "v", "id")
    val got = Profile.quantileNormalize(df, "g", "v", "id")
      .orderBy($"g", $"id")
      .as[(String, Long, Long, Long)].collect().toSeq
    // a(rank 1 of 2): ppm 500000 -> pooled rank ceil(.5*5)=3 -> 100
    // a(rank 2 of 2): ppm 1e6 -> pooled rank 5 -> 300
    // b(rank 1 of 3): ppm ceil(1e6/3)=333334 -> rank ceil(1.66..)=2 -> 30
    // b(rank 2 of 3): ppm 666667 -> rank ceil(3.33)=4 -> 200
    // b(rank 3 of 3): -> rank 5 -> 300
    assert(got == Seq(("a", 1L, 10L, 100L), ("a", 2L, 30L, 300L),
      ("b", 3L, 100L, 30L), ("b", 4L, 200L, 200L),
      ("b", 5L, 300L, 300L)), got.toString)
    // identical group sizes: normalization is a pure pooled re-rank —
    // every group ends with the SAME multiset
    val eq = Seq(("x", 1L, 1L), ("x", 9L, 2L), ("y", 4L, 3L),
      ("y", 6L, 4L)).toDF("g", "v", "id")
    val sets = Profile.quantileNormalize(eq, "g", "v", "id")
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._4).sorted.toSeq).toMap
    assert(sets("x") == sets("y"), sets.toString)
  }

  test("simpsonDiversity: exact ppm two-draw probabilities") {
    import spark.implicits._
    // g1: 3 of a, 1 of b -> num = 3*2 + 0 = 6; N(N-1) = 12 -> 500000
    // g2: singleton -> undefined, reports 0/0
    val df = Seq(("g1", "a"), ("g1", "a"), ("g1", "a"), ("g1", "b"),
      ("g2", "x")).toDF("grp", "cat")
    val got = Profile.simpsonDiversity(df, "grp", "cat")
      .orderBy($"grp")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("g1", 4L, 2L, 500000L, 500000L),
      ("g2", 1L, 1L, 0L, 0L)), got.toString)
    // uniform mix of k singletons -> simpson 0, diversity 1000000
    val uni = Seq(("u", "a"), ("u", "b"), ("u", "c")).toDF("grp", "cat")
    val u = Profile.simpsonDiversity(uni, "grp", "cat")
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(u == (("u", 3L, 3L, 0L, 1000000L)), u.toString)
  }

  test("winsorizedStats: discrete rank bounds, exact clip accounting") {
    import spark.implicits._
    // group g: values 1..10 (ids = values); loPpm/hiPpm = 10%/90%
    // ranks: lo = ceil(0.1*10)=1 -> 1 ; hi = ceil(0.9*10)=9 -> 9
    val df = (1L to 10L).map(v => ("g", v, v)).toDF("grp", "v", "id")
    val got = Profile.winsorizedStats(df, "grp", "v", "id",
        loPpm = 100000L, hiPpm = 900000L)
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().head
    // clipped sum: 1..9 + (10 -> 9) = 45 + 9 = 54; one high clip
    assert(got == (("g", 10L, 1L, 9L, 54L, 0L, 1L)), got.toString)
    // n=1 group: lo=hi=the value, nothing clips
    val one = Seq(("h", 7L, 1L)).toDF("grp", "v", "id")
    val g1 = Profile.winsorizedStats(one, "grp", "v", "id")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert(g1 == (("h", 1L, 7L, 7L, 7L, 0L, 0L)), g1.toString)
    intercept[IllegalArgumentException] {
      Profile.winsorizedStats(df, "grp", "v", "id", 900000L, 100000L)
    }
  }

  test("psiDrift matches a driver-side replay; smoothing covers zeros") {
    import spark.implicits._
    // bins 0..2; group a: 10/5/0, group b: 5/5/5 — bin 2 is one-sided
    val rows =
      Seq.fill(10)(("a", 0L)) ++ Seq.fill(5)(("a", 1L)) ++
        Seq.fill(5)(("b", 0L)) ++ Seq.fill(5)(("b", 1L)) ++
        Seq.fill(5)(("b", 2L)) ++ Seq(("c", 0L)) // other group ignored
    val df = rows.toDF("g", "bin")
    val got = Profile.psiDrift(df, "g", "bin", "a", "b")
      .orderBy($"bin").as[(Long, Long, Long, Long)].collect().toSeq
    val (ta, tb, nb) = (15.0, 15.0, 3.0)
    def term(na: Long, nbn: Long): Long = {
      val pa = (na + 1) / (ta + nb); val pb = (nbn + 1) / (tb + nb)
      math.floor(1e6 * ((pa - pb) * math.log(pa / pb))).toLong
    }
    assert(got == Seq((0L, 10L, 5L, term(10, 5)),
      (1L, 5L, 5L, term(5, 5)), (2L, 0L, 5L, term(0, 5))),
      got.toString)
    // identical cohorts -> every term is 0 (ln 1 = 0 exactly)
    val same = (rows.filter(_._1 == "b") ++
      rows.filter(_._1 == "b").map { case (_, b) => ("a", b) })
      .toDF("g", "bin")
    val zero = Profile.psiDrift(same, "g", "bin", "a", "b")
      .as[(Long, Long, Long, Long)].collect()
    assert(zero.forall(_._4 == 0L), zero.mkString(","))
    intercept[IllegalArgumentException] {
      Profile.psiDrift(df, "g", "bin", "a", "a")
    }
  }

  test("kendallTau2: concordance accounting, ties, degenerate frames") {
    import spark.implicits._
    // perfect agreement: every pair concordant -> +10^6
    val up = Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L),
      (4L, 4L, 40L)).toDF("k", "x", "y")
    val gotUp = Profile.kendallTau2(up, "k", "x", "y")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(gotUp == ((4L, 6L, 6L, 0L, 1000000L)), gotUp.toString)
    // perfect reversal -> -10^6
    val down = Seq((1L, 1L, 40L), (2L, 2L, 30L), (3L, 3L, 20L),
      (4L, 4L, 10L)).toDF("k", "x", "y")
    val gotDn = Profile.kendallTau2(down, "k", "x", "y")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(gotDn == ((4L, 6L, 0L, 6L, -1000000L)), gotDn.toString)
    // ties: x = (1,1,2), y = (5,6,7) — pairs: (1,2) x-tied (Tx),
    // (1,3),(2,3) concordant; tau-b^2 = (2-0)^2/((2+1)*(2+0))
    // chain: (4 div 3)*1e6 div 2 = 500000
    val tied = Seq((1L, 1L, 5L), (2L, 1L, 6L), (3L, 2L, 7L))
      .toDF("k", "x", "y")
    val gotT = Profile.kendallTau2(tied, "k", "x", "y")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(gotT == ((3L, 3L, 2L, 0L, 500000L)), gotT.toString)
    // all-x-tied: no orderable pair -> 0, not a crash
    val degen = Seq((1L, 7L, 1L), (2L, 7L, 2L)).toDF("k", "x", "y")
    val gotD = Profile.kendallTau2(degen, "k", "x", "y")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(gotD._5 == 0L, gotD.toString)
    // nulls drop before pairing
    val withNull = Seq((Some(1L), Some(1L), Some(10L)),
      (Some(2L), None, Some(20L)), (Some(3L), Some(3L), Some(30L)),
      (None, Some(4L), Some(40L))).toDF("k", "x", "y")
    val gotN = Profile.kendallTau2(withNull, "k", "x", "y")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(gotN == ((2L, 1L, 1L, 0L, 1000000L)), gotN.toString)
  }

  test("spearmanRho2By: per-group extremes isolate; single group == global") {
    import spark.implicits._
    // group up: ascending pairs (+1e6); group dn: reversed (-1e6);
    // group tie: constant x -> degenerate 0
    val df = (1L to 5L).flatMap(i => Seq(("up", i, i * 10),
      ("dn", i, 60 - i * 10), ("tie", 7L, i))).toDF("g", "x", "y")
    val got = Profile.spearmanRho2By(df, "g", "x", "y")
      .orderBy($"grp").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("dn", 5L, -1000000L), ("tie", 5L, 0L),
      ("up", 5L, 1000000L)), got.toString)
    // a single-group frame reproduces the global operator exactly
    val one = df.filter($"g" === "up")
    val gBy = Profile.spearmanRho2By(one, "g", "x", "y")
      .select($"n", $"rho2_signed_ppm")
      .as[(Long, Long)].collect().head
    val gGl = Profile.spearmanRho2(one, "x", "y")
      .as[(Long, Long)].collect().head
    assert(gBy == gGl, s"$gBy vs $gGl")
  }

  test("categoryShareChi2: declared-k expectation, exact cell terms") {
    import spark.implicits._
    // counts a=3, b=1, k=4: N=4; a's term 1e6*(12-4)^2/(4*4) = 4e6,
    // b's term (4-4)^2 = 0
    val df = (Seq.fill(3)("a") ++ Seq("b")).toDF("c")
    val got = Profile.categoryShareChi2(df, "c", k = 4)
      .orderBy($"cat").as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 3L, 750000L, 4000000L),
      ("b", 1L, 250000L, 0L)), got.toString)
    intercept[IllegalArgumentException] {
      Profile.categoryShareChi2(df, "c", k = 1)
    }
  }

  test("groupSizeHistogram: sizes roll up, rows tie out") {
    import spark.implicits._
    // key sizes: a=1, b=2, c=2, d=3 -> hist (1,1,1),(2,2,4),(3,1,3)
    val df = (Seq("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c") ++
      Seq.fill(3)("d")).toDF("k")
    val got = Profile.groupSizeHistogram(df, "k")
      .orderBy($"size").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L), (2L, 2L, 4L), (3L, 1L, 3L)),
      got.toString)
    assert(got.map(_._3).sum == 8L) // every row counted exactly once
  }

  test("hhiConcentration: monopoly 1e6, k equal players 1e6/k") {
    import spark.implicits._
    val df = Seq(("mono", 1L, 500L),
      ("quad", 1L, 25L), ("quad", 2L, 25L), ("quad", 3L, 25L),
      ("quad", 4L, 25L),
      ("skew", 1L, 90L), ("skew", 2L, 10L)).toDF("g", "k", "v")
    val got = Profile.hhiConcentration(df, "g", "k", "v")
      .orderBy($"grp").as[(String, Long, Long)].collect().toSeq
    // skew: shares 900000/100000 -> (81e10 + 1e10) // 1e6 = 820000
    assert(got == Seq(("mono", 1L, 1000000L), ("quad", 4L, 250000L),
      ("skew", 2L, 820000L)), got.toString)
    // values aggregate per key first
    val multi = Seq(("m", 1L, 50L), ("m", 1L, 40L), ("m", 2L, 10L))
      .toDF("g", "k", "v")
    val gotM = Profile.hhiConcentration(multi, "g", "k", "v")
      .as[(String, Long, Long)].collect().head
    assert(gotM == (("m", 2L, 820000L)), gotM.toString)
  }

  test("weightedMedian: mass cut, not row cut; non-positive weights drop") {
    import spark.implicits._
    // (1, w=1) vs (10, w=9): 90% of the mass sits at 10
    val heavy = Seq(("a", 1L, 1L, 1L), ("a", 10L, 9L, 2L))
      .toDF("g", "v", "w", "k")
    val gotH = Profile.weightedMedian(heavy, "g", "v", "w", "k")
      .as[(String, Long, Long, Long)].collect().head
    assert(gotH == (("a", 2L, 10L, 10L)), gotH.toString)
    // an even split takes the LOWER value (2·cumw >= totw at v=1)
    val even = Seq(("b", 1L, 5L, 1L), ("b", 10L, 5L, 2L))
      .toDF("g", "v", "w", "k")
    val gotE = Profile.weightedMedian(even, "g", "v", "w", "k")
      .as[(String, Long, Long, Long)].collect().head
    assert(gotE == (("b", 2L, 10L, 1L)), gotE.toString)
    // zero/negative weights and nulls drop before the cut
    val messy = Seq(("c", Some(7L), Some(3L), 1L),
      ("c", Some(99L), Some(0L), 2L), ("c", Some(98L), Some(-4L), 3L),
      ("c", None, Some(5L), 4L)).toDF("g", "v", "w", "k")
    val gotM = Profile.weightedMedian(messy, "g", "v", "w", "k")
      .as[(String, Long, Long, Long)].collect().head
    assert(gotM == (("c", 1L, 3L, 7L)), gotM.toString)
  }

  test("describeNumeric: nulls counted, distincts exact, per-column rows") {
    import spark.implicits._
    val df = Seq((Some(1L), Some(4L)), (Some(1L), None),
      (None, Some(4L)), (Some(5L), Some(6L))).toDF("x", "y")
    val got = Profile.describeNumeric(df, Seq("x", "y"))
      .orderBy($"column")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("x", 4L, 1L, 2L, 1L, 5L, 7L),
      ("y", 4L, 1L, 2L, 4L, 6L, 14L)), got.toString)
    intercept[IllegalArgumentException] {
      Profile.describeNumeric(df, Seq.empty)
    }
  }

  test("groupQuantiles: integer rank cuts, singleton group, null drops") {
    import spark.implicits._
    // values 1..20: ranks ceil(n/4)=5, 10, 15, ceil(19n/20)=19
    val a = (1L to 20L).map(v => ("a", v, v))
    val b = Seq(("b", 42L, 1L)) // singleton: every cut is rank 1
    val nul = Seq(("c", -1L, 0L)).map { case (g, v, k) =>
      (g, Option.empty[Long], k) }
    val df = (a ++ b).map { case (g, v, k) => (g, Option(v), k) }
      .++(nul).toDF("g", "v", "k")
    val got = Profile.groupQuantiles(df, "g", "v", Seq("k"))
      .orderBy($"grp")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 20L, 5L, 10L, 15L, 19L),
      ("b", 1L, 42L, 42L, 42L, 42L)), got.toString)
    intercept[IllegalArgumentException] {
      Profile.groupQuantiles(df, "g", "v", Seq.empty)
    }
  }

  test("paretoPoint: exact cross-multiplied threshold, tie order") {
    import spark.implicits._
    // values 80/10/5/5: the top key alone reaches 80% of 100
    val skewed = Seq((1L, 80L), (2L, 10L), (3L, 5L), (4L, 5L))
      .toDF("k", "v")
    val gotS = Profile.paretoPoint(skewed, "k", "v")
      .as[(Long, Long, Long, Long)].collect().head
    assert(gotS == ((4L, 1L, 250000L, 100L)), gotS.toString)
    // uniform 25x4: cum hits 80 only at the 4th key (75 < 80 at 3)
    val unif = Seq((1L, 25L), (2L, 25L), (3L, 25L), (4L, 25L))
      .toDF("k", "v")
    val gotU = Profile.paretoPoint(unif, "k", "v")
      .as[(Long, Long, Long, Long)].collect().head
    assert(gotU == ((4L, 4L, 1000000L, 100L)), gotU.toString)
    // 50% target: 2 uniform keys suffice
    val gotH = Profile.paretoPoint(unif, "k", "v", targetNum = 1,
      targetDen = 2).as[(Long, Long, Long, Long)].collect().head
    assert(gotH._2 == 2L, gotH.toString)
    // values aggregate per key before ranking
    val multi = Seq((1L, 40L), (1L, 40L), (2L, 20L)).toDF("k", "v")
    val gotM = Profile.paretoPoint(multi, "k", "v")
      .as[(Long, Long, Long, Long)].collect().head
    assert(gotM == ((2L, 1L, 500000L, 100L)), gotM.toString)
    intercept[IllegalArgumentException] {
      Profile.paretoPoint(unif, "k", "v", targetNum = 3, targetDen = 2)
    }
  }

  test("wordComplexity: exact word/vowel-group/long-word accounting") {
    import spark.implicits._
    // "the cat runs": 3 words, 10 alpha chars, vowel groups e/a/u,
    // no word >= 6 chars. Digits and punctuation never count.
    // "strength99 strength!" -> 2 words of 8 chars, 1 vowel group
    // each, both long
    val df = Seq(("en", "the cat runs"),
      ("en", "strength99 strength!"),
      ("xx", "zzz 123"), // 1 word, 0 vowel groups
      ("yy", "999 ...")) // 0 words -> group drops (guarded div)
      .toDF("lang", "text")
    val got = Profile.wordComplexity(df, "lang", "text")
      .orderBy($"grp")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // en: 5 words, 26 chars, 5 vowel groups, 2 long
    assert(got == Seq(
      ("en", 2L, 5L, 5200L, 1000L, 400000L),
      ("xx", 1L, 1L, 3000L, 0L, 0L)), got.toString)
    intercept[IllegalArgumentException] {
      Profile.wordComplexity(df, "lang", "text", longLen = 0)
    }
  }
}
