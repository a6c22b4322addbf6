package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The round-13 GK production twins, each bounded against its exact
  * rank-window twin (the quantileTrimApprox precedent): the exact form
  * stays the oracle/audit path, the Approx or Bucketed form is what a
  * 100×-scale caller runs, and this suite is the contract between
  * them (value agreement within the sketch's rank-error bound), plus
  * a physical-plan audit that NO approx path (the starred-Approx or
  * Bucketed form) moves all data to a single-partition window — the
  * exact family's documented scale hazard: Verify logs
  * `WindowExec: No Partition Defined` for them.
  */
class ApproxStatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val orders = spark.read
    .parquet("/root/testdata/sf0.001/orders.parquet")
  private lazy val events = spark.read
    .parquet("/root/testdata/sf0.001/events.parquet")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** No window at all, or only group-partitioned windows — never the
    * unpartitioned kind that moves ALL rows to one task (the exact
    * family's `WindowExec: No Partition Defined` hazard). Checked on
    * the optimized LOGICAL plan, where `Window.partitionSpec` is
    * directly inspectable — the physical string can't distinguish a
    * benign one-row global aggregate (which also prints
    * `Exchange SinglePartition`) from the hazard.
    */
  private def assertNoGlobalWindow(
      df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "unpartitioned window in approx plan:\n" +
      df.queryExecution.optimizedPlan.toString)
  }

  test("madOutliersApprox: windowless plan, med/mad/outliers track exact") {
    val df = docs.select($"source", $"doc_id", length($"text").as("v"))
    val exact = Profile.madOutliers(df, "source", "v", "doc_id")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val approxDf = Profile.madOutliersApprox(df, "source", "v")
    assert(!plan(approxDf).contains("Window"), plan(approxDf))
    val approx = approxDf.as[(String, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(approx.keySet == exact.keySet)
    for ((g, (_, n, med, mad, out)) <- exact) {
      val (_, na, meda, mada, outa) = approx(g)
      assert(na == n, s"$g n: $na vs $n")
      // GK at accuracy 10k on sub-10k groups is rank-exact; the only
      // admissible drift is the tie/convention off-by-one-VALUE at
      // the median rank (quantileTrimApprox's bound shape)
      assert(math.abs(meda - med) <= math.max(1L, med / 10),
        s"$g med: $meda vs $med")
      assert(math.abs(mada - mad) <= math.max(1L, mad / 5),
        s"$g mad: $mada vs $mad")
      // outlier count moves only by rows whose |d| sits between the
      // two mad cuts — bound loosely, it must stay the same regime
      assert(math.abs(outa - out) <= math.max(2L, n / 20),
        s"$g outliers: $outa vs $out")
    }
  }

  test("winsorizedStatsApprox: windowless, bounds and sums track exact") {
    val df = docs.select($"source", $"doc_id", $"n_chars")
    val exact = Profile.winsorizedStats(df, "source", "n_chars",
      "doc_id").as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val aDf = Profile.winsorizedStatsApprox(df, "source", "n_chars")
    assert(!plan(aDf).contains("Window"), plan(aDf))
    val approx = aDf.as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(approx.keySet == exact.keySet)
    for ((g, (_, n, lo, hi, sum, cl, ch)) <- exact) {
      val (_, na, loa, hia, suma, cla, cha) = approx(g)
      assert(na == n)
      // bounds are actual data values within a 1-rank neighborhood;
      // on a long-tailed length distribution one rank can move the
      // VALUE noticeably, so bound by rank drift instead: clip
      // counts (rank positions of the bounds) move by <= n/100 + 1
      assert(math.abs(cla - cl) <= n / 100 + 1, s"$g clipLo: $cla vs $cl")
      assert(math.abs(cha - ch) <= n / 100 + 1, s"$g clipHi: $cha vs $ch")
      // winsorized sum drift is bounded by (moved clip rows) × (bound
      // value gap); sanity-bound it at 5%
      assert(math.abs(suma - sum).toDouble <= 0.05 * math.abs(sum) + 1,
        s"$g sum: $suma vs $sum")
      assert(loa <= hia && loa >= lo.min(loa) && hia <= hi.max(hia))
    }
  }

  test("groupQuantilesApprox: one sketch aggregate, rank-exact on small groups") {
    val df = orders.select($"o_custkey".cast("string").as("seg"),
      $"o_totalprice".cast("long").as("v"), $"o_orderkey")
      .withColumn("seg", substring($"seg", -1, 1)) // 10 groups
    val exact = Profile.groupQuantiles(df, "seg", "v",
      Seq("o_orderkey"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val aDf = Profile.groupQuantilesApprox(df, "seg", "v")
    assert(!plan(aDf).contains("Window"), plan(aDf))
    assert(plan(aDf).contains("partial_percentile_approx"), plan(aDf))
    val approx = aDf.as[(String, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(approx.keySet == exact.keySet)
    for ((g, (_, n, p25, p50, p75, p95)) <- exact) {
      val (_, na, a25, a50, a75, a95) = approx(g)
      assert(na == n)
      // verify by RANK (the true GK guarantee): the approx value's
      // rank within the group must be within eps*n + 1 of the target
      val vals = df.filter($"seg" === g).select($"v").as[Long]
        .collect().sorted
      def rankOf(v: Long) = vals.count(_ <= v)
      val tol = math.max(2.0, 1e-4 * n + 2)
      for ((av, num, den) <- Seq((a25, 1, 4), (a50, 1, 2),
        (a75, 3, 4), (a95, 19, 20))) {
        val target = (num.toLong * n + den - 1) / den
        assert(math.abs(rankOf(av) - target) <= tol,
          s"$g p$num/$den: approx value $av at rank ${rankOf(av)} " +
            s"vs target rank $target (n=$n)")
      }
      // and the discrete convention keeps values integral data points
      assert(Seq(a25, a50, a75, a95).forall(vals.contains),
        s"$g: approx quantiles must be actual data values")
      assert(p25 <= p50 && a25 <= a50 && p75 <= p95 && a75 <= a95)
    }
  }

  test("weightedMedianBucketed == weightedMedian bit-for-bit") {
    val df = docs.select($"source", $"doc_id",
      (length($"text") % 97).as("v"), // force heavy value ties
      $"n_chars".as("w"))
    val exact = Profile.weightedMedian(df, "source", "v", "w",
      "doc_id").orderBy($"grp")
      .as[(String, Long, Long, Long)].collect().toSeq
    val bucketed = Profile.weightedMedianBucketed(df, "source", "v",
      "w").orderBy($"grp")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(bucketed == exact)
    // and the window sorts the DISTINCT-value frame: after the
    // (grp, v) pre-aggregate, never a single-partition move
    assertNoGlobalWindow(
      Profile.weightedMedianBucketed(df, "source", "v", "w"))
  }

  test("equiDepthBinsApprox: windowless; mass conserved, sizes track exact") {
    val df = orders.select($"o_custkey".cast("string").as("seg"),
      ($"o_totalprice" * 100).cast("long").as("v"), $"o_orderkey")
      .withColumn("seg", substring($"seg", -1, 1)) // 10 groups
    val B = 8
    val exact = Profile.equiDepthBins(df, "seg", "v",
      Seq("o_orderkey"), B)
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    val aDf = Profile.equiDepthBinsApprox(df, "seg", "v", B)
    assert(!plan(aDf).contains("Window"), plan(aDf))
    val approx = aDf.as[(String, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    assert(approx.keySet == exact.keySet)
    for ((g, ebins) <- exact) {
      val abins = approx(g)
      val n = ebins.map(_._3).sum
      // mass conserved, bin ids legal, value envelope identical
      assert(abins.map(_._3).sum == n, s"$g mass")
      assert(abins.forall(b => b._2 >= 0 && b._2 < B))
      assert(abins.map(_._4).min == ebins.map(_._4).min, s"$g lo")
      assert(abins.map(_._5).max == ebins.map(_._5).max, s"$g hi")
      // value-banded sizes drift from n/B only by tie mass + GK rank
      // error; totalprice cents are near-unique, so bound generously
      val maxTie = df.filter($"seg" === g).groupBy($"v")
        .count().agg(max($"count")).head().getLong(0)
      val tol = maxTie + n / 100 + 2
      abins.foreach { b =>
        assert(math.abs(b._3 - n.toDouble / B) <= tol,
          s"$g bin ${b._2}: size ${b._3} vs ~${n / B} (tol $tol)")
      }
      // bins are value-ordered and internally consistent
      val sorted = abins.sortBy(_._2)
      sorted.foreach(b => assert(b._4 <= b._5))
      sorted.sliding(2).foreach {
        case Array(x, y) => assert(x._5 <= y._4, s"$g overlap")
        case _ =>
      }
    }
  }

  test("theilSenApprox: sampled pairs, no pair blowup, slope near exact") {
    val ts = events.select(
      (unix_micros($"ts".cast("timestamp"))).as("t"))
    val exact = Timeseries.theilSen(ts, "t")
      .as[(Long, Long, Long, Long, Long)].head()
    val aDf = Timeseries.theilSenApprox(ts, "t", rounds = 64)
    // the one BNLJ is the benign one-row nDays cross; the hazard —
    // an n^2 pair frame — is excluded numerically below, and the pair
    // join itself must be a hash join on the round-local pair id
    assert(!plan(aDf).contains("CartesianProduct"), plan(aDf))
    assert(plan(aDf).contains("BroadcastHashJoin"), plan(aDf))
    val approx = aDf.as[(Long, Long, Long, Long, Long)].head()
    assert(approx._1 == exact._1) // n_days identical
    val nd = exact._1
    // sample size: 64 rounds × ⌊n/2⌋ disjoint pairs, far below n²/2
    assert(approx._2 <= 64L * (nd / 2))
    assert(approx._2 >= 32L * (nd / 2)) // odd-n rounds lose ≤ 1 pair
    // the sampled median slope must land inside the exact p10..p90
    // envelope (the estimator's consistency check, not equality)
    assert(approx._4 >= exact._3 && approx._4 <= exact._5,
      s"approx median ${approx._4} outside exact band " +
        s"[${exact._3}, ${exact._5}]")
    // determinism: same inputs, same pairs, same numbers
    val again = Timeseries.theilSenApprox(ts, "t", rounds = 64)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(again == approx)
  }
}
