package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import java.nio.file.Files

/** File-level data skipping: [[FileStats]] evaluator semantics (prune
  * only on proof, keep on any uncertainty) and the
  * [[TableStore.analyze]]/[[TableStore.readWhere]] contract — pruned
  * reads return EXACTLY what the plain filtered read returns, while
  * scanning fewer files when the clustering makes that provable.
  * Evaluator cases build Catalyst predicates directly (the same node
  * shapes `readWhere` collects from the optimized plan).
  */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._
  import FileStats._

  private def a(n: String) = UnresolvedAttribute(n)
  private def bd(l: Long) = new java.math.BigDecimal(l)
  private def cs(rows: Long, nulls: Long, mn: Long, mx: Long) =
    ColStats(rows, nulls, Some(bd(mn)), Some(bd(mx)))

  test("serialize/deserialize round-trips every value kind and escape") {
    val stats = Map(
      "part-a.parquet" -> PerFile(10, Map(
        "k" -> cs(10, 0, -5, 17),
        "name" -> ColStats(10, 2, Some("a%b\tc\nd"), Some("zz")),
        "flag" -> ColStats(10, 0, Some(java.lang.Boolean.FALSE),
          Some(java.lang.Boolean.TRUE)),
        "dead" -> ColStats(10, 10, None, None))),
      "day=x%25/part-b.parquet" -> PerFile(0, Map.empty))
    assert(deserialize(serialize(stats)) == stats)
  }

  test("mayMatch: range proofs prune, uncertainty keeps") {
    val pf = PerFile(100, Map("k" -> cs(100, 0, 10, 20),
      "s" -> ColStats(100, 5, Some("mango"), Some("peach")),
      "allnull" -> ColStats(100, 100, None, None)))
    def m(e: Expression) = mayMatch(e, pf)
    val k = a("k")
    // equality inside / outside the window
    assert(m(EqualTo(k, Literal(15))) && m(EqualTo(k, Literal(10))) &&
      m(EqualTo(k, Literal(20))))
    assert(!m(EqualTo(k, Literal(9))) && !m(EqualTo(k, Literal(21))))
    // long literals against long stats
    assert(m(EqualTo(k, Literal(15L))) && !m(EqualTo(k, Literal(9L))))
    // inequalities, both literal positions
    assert(!m(LessThan(k, Literal(10))) && m(LessThanOrEqual(k, Literal(10))))
    assert(!m(GreaterThan(k, Literal(20))) &&
      m(GreaterThanOrEqual(k, Literal(20))))
    assert(!m(LessThan(Literal(21), k)) && m(LessThanOrEqual(Literal(20), k)))
    assert(m(GreaterThan(Literal(11), k)) && !m(GreaterThan(Literal(10), k)))
    // In: any member inside keeps; InSet likewise (internal values)
    assert(m(In(k, Seq(Literal(1), Literal(2), Literal(15)))))
    assert(!m(In(k, Seq(Literal(1), Literal(2), Literal(30)))))
    val kr = AttributeReference("k", org.apache.spark.sql.types.LongType)()
    assert(mayMatch(InSet(kr, Set[Any](1L, 15L)), pf))
    assert(!mayMatch(InSet(kr, Set[Any](1L, 30L)), pf))
    // And needs both sides; Or either
    assert(!m(And(EqualTo(k, Literal(15)), EqualTo(k, Literal(9)))))
    assert(m(Or(EqualTo(k, Literal(9)), EqualTo(k, Literal(15)))))
    // null proofs
    assert(!m(IsNull(k)) && m(IsNotNull(k)))
    assert(m(IsNull(a("allnull"))) && !m(IsNotNull(a("allnull"))))
    assert(!m(EqualTo(a("allnull"), Literal(5)))) // no value to compare
    // != prunes only a constant file
    assert(m(Not(EqualTo(k, Literal(15)))))
    val const = PerFile(4, Map("k" -> cs(4, 0, 7, 7)))
    assert(!mayMatch(Not(EqualTo(a("k"), Literal(7))), const))
    assert(mayMatch(Not(EqualTo(a("k"), Literal(8))), const))
    // string prefix: window proofs, prefix-class edge kept
    val s = a("s")
    assert(m(StartsWith(s, Literal("m"))) && m(StartsWith(s, Literal("pea"))))
    assert(!m(StartsWith(s, Literal("z"))) && !m(StartsWith(s, Literal("a"))))
    val edge = PerFile(3, Map("s" ->
      ColStats(3, 0, Some("ab￿x"), Some("ac"))))
    assert(mayMatch(StartsWith(a("s"), Literal("ab")), edge)) // min IS prefixed
    // unknown shapes and statless columns never prune
    assert(m(EqualTo(Abs(k), Literal(9)))) // wrapped attribute: conservative
    assert(m(EqualTo(a("other"), Literal(1))))
    // a zero-row file always prunes
    assert(!mayMatch(EqualTo(a("x"), a("x")), PerFile(0, Map.empty)))
    // type drift between stats and literal keeps
    assert(m(EqualTo(s, Literal(5))))
  }

  test("mayMatch: double boundaries compare exactly") {
    val pf = PerFile(5, Map("d" -> ColStats(5, 0,
      Some(new java.math.BigDecimal(0.1)), // exact binary expansion
      Some(new java.math.BigDecimal(0.3)))))
    assert(mayMatch(EqualTo(a("d"), Literal(0.1)), pf))
    assert(!mayMatch(LessThan(a("d"), Literal(0.1)), pf))
    assert(!mayMatch(GreaterThan(a("d"), Literal(0.3)), pf))
    assert(mayMatch(GreaterThanOrEqual(a("d"), Literal(0.3)), pf))
    // NaN literal: outside the evaluator's domain — keeps
    assert(mayMatch(EqualTo(a("d"), Literal(Double.NaN)), pf))
  }

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_fs").toString)

  test("analyze + readWhere: prunes clustered files, results identical") {
    val ts = freshStore()
    // 4 range-clustered files over k ∈ [0,400): file boundaries are
    // disjoint k windows, so a point/range predicate can prove 3 of 4 away
    ts.rewrite("t", spark.range(400).toDF("k")
      .withColumn("s", concat(lit("u"), format_string("%03d", $"k")))
      .withColumn("grp", ($"k" % 7).cast("int"))
      .repartitionByRange(4, $"k"))
    val total = ts.read("t").inputFiles.length
    assert(total == 4)
    ts.analyze("t", Seq("k", "s"))

    val point = ts.readWhere("t", $"k" === 42)
    assert(point.inputFiles.length == 1)
    assert(point.as[(Long, String, Int)].collect().toSet ==
      ts.read("t").filter($"k" === 42).as[(Long, String, Int)]
        .collect().toSet)

    val range = ts.readWhere("t", $"k" >= 150 && $"k" < 260)
    assert(range.inputFiles.length < total)
    assert(range.select(sum($"k")).as[Long].head() ==
      (150L until 260L).sum)

    // string-prefix pruning rides the same stats
    val pre = ts.readWhere("t", $"s".startsWith("u39"))
    assert(pre.inputFiles.length == 1 && pre.count() == 10)

    // a provably-empty predicate reads zero rows (and stays schema-true)
    val none = ts.readWhere("t", $"k" === -1)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "s", "grp"))

    // un-analyzed column: no pruning, still correct
    val g = ts.readWhere("t", $"grp" === 3)
    assert(g.inputFiles.length == total)
    assert(g.count() == ts.read("t").filter($"grp" === 3).count())
  }

  test("readWhere: stale stats keep appended files visible") {
    val ts = freshStore()
    ts.rewrite("t", spark.range(100).toDF("k").repartitionByRange(2, $"k"))
    ts.analyze("t", Seq("k"))
    // appended AFTER analyze: no stats for the new file — must be scanned
    ts.append("t", Seq(1000L, 1001L).toDF("k"))
    val got = ts.readWhere("t", $"k" >= 1000)
    assert(got.as[Long].collect().toSet == Set(1000L, 1001L))
    // and the analyzed files still prune underneath the stale stats
    assert(got.inputFiles.length < ts.read("t").inputFiles.length)
  }

  test("analyzeIncremental: stats only the new files; skipping covers them") {
    val ts = freshStore()
    ts.rewrite("t", spark.range(100).toDF("k").repartitionByRange(2, $"k"))
    ts.analyze("t", Seq("k"))
    ts.append("t", Seq(1000L, 1001L).toDF("k").coalesce(1))
    // incremental pass stats ONLY the appended file; afterwards a
    // predicate outside its window prunes it too (stale-stats test's
    // counterpart: there the new file had to be scanned)
    ts.analyzeIncremental("t", Seq("k"))
    val low = ts.readWhere("t", $"k" < 50)
    // the appended file ([1000,1001]) is pruned now that it has stats
    // (range-partition boundaries are sample-based, so the two original
    // files may both straddle 50 — the append is the provable prune)
    assert(low.inputFiles.length < ts.read("t").inputFiles.length)
    assert(low.count() == 50)
    val high = ts.readWhere("t", $"k" >= 1000)
    assert(high.inputFiles.length == 1 &&
      high.as[Long].collect().toSet == Set(1000L, 1001L))
    // no-op when nothing is new: nothing is committed
    val gens = ts.generations("t")
    assert(ts.analyzeIncremental("t", Seq("k")) == gens.last)
    assert(ts.generations("t") == gens)
    // a rewrite replaces every analyzed file and their stats go with
    // them: the next read scans everything, and with no prior stats
    // analyzeIncremental runs a full analyze, after which readWhere
    // prunes again (3 round-robin files, only 2 rows >= 1000)
    ts.compact("t", targetFiles = 3)
    val files = ts.read("t").inputFiles.length
    assert(ts.readWhere("t", $"k" >= 1000).inputFiles.length == files)
    ts.analyzeIncremental("t", Seq("k"))
    val again = ts.readWhere("t", $"k" >= 1000)
    assert(again.as[Long].collect().toSet == Set(1000L, 1001L))
    assert(again.inputFiles.length < files)
  }

  test("analyze + readWhere prune all-null and partitioned layouts") {
    val ts = freshStore()
    ts.rewrite("t", spark.range(60)
      .select($"id".as("k"),
        when($"id" < 30, $"id".cast("string")).as("v"),
        concat(lit("d"), ($"id" % 3)).as("day"))
      .repartition($"day"), partitionBy = Seq("day"))
    ts.analyze("t", Seq("k", "v", "day"))
    // partition-column predicate prunes at the FILE level via the same stats
    val one = ts.readWhere("t", $"day" === "d1")
    assert(one.inputFiles.length < ts.read("t").inputFiles.length)
    assert(one.count() == 20)
    // every day-file mixes null and non-null v: isNotNull keeps all, correct
    assert(ts.readWhere("t", $"v".isNotNull).count() == 30)
  }

  test("crash before analyze's CAS leaves the head generation; the retry lands stats") {
    val ts = freshStore()
    ts.rewrite("t", spark.range(100).toDF("k").repartitionByRange(4, $"k"))
    val gen = ts.generations("t").last
    val files = ts.read("t").inputFiles.length
    ts.beforeBeginCommit =
      () => throw new IllegalStateException("injected crash before commit")
    intercept[IllegalStateException](ts.analyze("t", Seq("k")))
    ts.beforeBeginCommit = () => ()
    // nothing committed: same head, and no stats to prune with
    assert(ts.generations("t") == Seq(gen))
    assert(ts.readWhere("t", $"k" === 5).inputFiles.length == files)
    // the retry commits the same files with stats one generation later
    assert(ts.analyze("t", Seq("k")) == gen + 1)
    assert(ts.generations("t") == Seq(gen + 1))
    val pruned = ts.readWhere("t", $"k" === 5)
    assert(pruned.count() == 1 && pruned.inputFiles.length < files)
    assert(ts.read("t").inputFiles.length == files)
  }

  test("analyze racing a commit re-derives and covers the concurrent file") {
    val root = Files.createTempDirectory("graft_fsrace").toString
    val a = new TableStore(spark, root)
    val b = new TableStore(spark, root)
    a.rewrite("t", spark.range(100).toDF("k").repartitionByRange(2, $"k"))
    val seeded = a.read("t").inputFiles.toSet
    // b's append lands between a's stats job and a's commit CAS
    var fired = 0
    a.beforeBeginCommit = () => {
      fired += 1
      if (fired == 1) b.append("t", Seq(1000L, 1001L).toDF("k").coalesce(1))
    }
    val gen = a.analyze("t", Seq("k"))
    a.beforeBeginCommit = () => ()
    assert(fired == 2, "analyze must lose the CAS once and retry")
    assert(gen == a.generations("t").last)
    val appended = a.read("t").inputFiles.toSet -- seeded
    assert(appended.size == 1)
    // the retry analyzed b's file too: a predicate outside its window
    // prunes it
    val low = a.readWhere("t", $"k" < 50)
    assert(low.count() == 50)
    assert(!low.inputFiles.exists(appended))
  }

  test("stats ride the manifest: a never-analyzed table's manifest lists only its files") {
    val root = Files.createTempDirectory("graft_fsman").toString
    val ts = new TableStore(spark, root)
    ts.rewrite("t", spark.range(100).toDF("k").repartitionByRange(2, $"k"))
    ts.append("t", Seq(1000L).toDF("k"))
    def manifest() = scala.io.Source.fromFile(
      s"$root/t._graft_commit.${ts.generations("t").last}").mkString
      .split("\n").toSeq
    val plain = manifest()
    assert(plain.forall(l => l.startsWith("schema=") || l.startsWith("f=")),
      plain.mkString("\n"))
    assert(plain.count(_.startsWith("f=")) == 3)
    // analyze adds one r= line per file and one s= line per (file, col)
    ts.analyze("t", Seq("k"))
    val analyzed = manifest()
    assert(analyzed.filterNot(l => l.startsWith("r=") || l.startsWith("s=")) ==
      plain)
    assert(analyzed.count(_.startsWith("r=")) == 3 &&
      analyzed.count(_.startsWith("s=")) == 3)
    // a rewrite drops the replaced files' stats with them
    ts.rewrite("t", spark.range(10).toDF("k"))
    assert(!manifest().exists(l => l.startsWith("r=") || l.startsWith("s=")))
  }

  // ------------------------------------------------------ bloom skipping

  test("bloom: point lookups prune interleaved files ranges cannot") {
    val ts = freshStore()
    // k = even numbers interleaved by k % 4: every file's [min,max]
    // window spans nearly the whole domain, so RANGE stats prove
    // nothing for a point predicate — the bloom is what prunes
    ts.rewrite("t", spark.range(400).toDF("i")
      .withColumn("k", $"i" * 2)
      .withColumn("s", concat(lit("u"), format_string("%03d", $"k")))
      .repartitionByRange(4, pmod($"i", lit(4))).drop("i"))
    assert(ts.read("t").inputFiles.length == 4)
    ts.analyze("t", Seq("k", "s"), bloomCols = Seq("k", "s"))

    // range stats alone keep all 4; the bloom narrows to the one file
    // actually holding the value (hashes are fixed: deterministic)
    val point = ts.readWhere("t", $"k" === 42L)
    assert(point.inputFiles.length == 1,
      s"bloom must prune, kept ${point.inputFiles.length}")
    assert(point.select($"s").as[String].head() == "u042")

    val sPoint = ts.readWhere("t", $"s" === "u042")
    assert(sPoint.inputFiles.length == 1)
    assert(sPoint.select($"k").as[Long].head() == 42L)

    // inside-range but ABSENT value (odd): range keeps, bloom proves
    // every file empty
    val absent = ts.readWhere("t", $"k" === 43L)
    assert(absent.count() == 0)
    assert(absent.inputFiles.isEmpty)

    // IN-list: prunes to the union of member files
    val inl = ts.readWhere("t", $"k".isin(42L, 43L, 100L))
    assert(inl.inputFiles.length <= 2)
    assert(inl.select(sum($"k")).as[Long].head() == 142L)
  }

  test("bloom: no false negatives — every present value keeps its file") {
    val ts = freshStore()
    ts.rewrite("t", spark.range(300).toDF("i")
      .withColumn("k", $"i" * 3 + 1)
      .withColumn("s", md5($"k".cast("string")))
      .repartitionByRange(5, pmod($"i", lit(5))).drop("i"))
    ts.analyze("t", Seq("k", "s"), bloomCols = Seq("k", "s"))
    val all = ts.read("t").as[(Long, String)].collect().toMap
    all.keys.filter(_ % 17 == 0).foreach { k =>
      val got = ts.readWhere("t", $"k" === k).as[(Long, String)].collect()
      assert(got.toSeq == Seq(k -> all(k)), s"k=$k")
      val gotS = ts.readWhere("t", $"s" === all(k)).as[(Long, String)]
        .collect()
      assert(gotS.toSeq == Seq(k -> all(k)), s"s of k=$k")
    }
  }

  test("bloom: sidecar round-trips; pre-bloom lines still parse") {
    val words = new Array[Long](8192 / 64)
    def set(h1: Long, h2: Long): Unit = {
      val b1 = java.lang.Math.floorMod(h1, 8192L)
      val b2 = java.lang.Math.floorMod(h2, 8192L)
      (0 until 4).foreach { i =>
        val pos = ((b1 + i * b2) % 8192).toInt
        words(pos >> 6) |= 1L << (pos & 63)
      }
    }
    val (h1, h2) = FileStats.bloomHashes(42L,
      org.apache.spark.sql.types.LongType).get
    set(h1, h2)
    val stats = Map("f.parquet" -> PerFile(5, Map(
      "k" -> ColStats(5, 0, Some(bd(0)), Some(bd(100)),
        Some(Bloom(8192, 4, words))))))
    val rt = deserialize(serialize(stats))
    assert(rt("f.parquet").cols("k").bloom.get.words.toSeq ==
      words.toSeq)
    // present value keeps, absent value prunes, range still applies
    val pf = rt("f.parquet")
    assert(mayMatch(EqualTo(a("k"), Literal(42L)), pf))
    assert(!mayMatch(EqualTo(a("k"), Literal(43L)), pf))
    assert(!mayMatch(EqualTo(a("k"), Literal(101L)), pf)) // range proof
    // a pre-bloom 6-field stats line parses with bloom = None
    val legacy = "r=f.parquet\t5\ns=f.parquet\tk\t5\t0\tn:0\tn:100\n"
    val old = deserialize(legacy)
    assert(old("f.parquet").cols("k").bloom.isEmpty)
    assert(mayMatch(EqualTo(a("k"), Literal(43L)), old("f.parquet")))
  }

  test("bloom: analyzeIncremental covers appended files") {
    val ts = freshStore()
    ts.rewrite("t", spark.range(100).toDF("i")
      .withColumn("k", $"i" * 2)
      .repartitionByRange(2, pmod($"i", lit(2))).drop("i"))
    ts.analyze("t", Seq("k"), bloomCols = Seq("k"))
    ts.append("t", Seq(1001L, 1003L).toDF("k"))
    ts.analyzeIncremental("t", Seq("k"), bloomCols = Seq("k"))
    // the appended file's bloom proves 1005 absent; with ranges alone
    // its [1001,1003] window would already exclude it — so probe 1001
    // (present) and 43 (absent-in-range of the first two files)
    assert(ts.readWhere("t", $"k" === 1001L).count() == 1)
    val absent = ts.readWhere("t", $"k" === 43L)
    assert(absent.count() == 0 && absent.inputFiles.isEmpty)
  }

  test("allMatch: proofs require full coverage and zero nulls") {
    val pf = PerFile(100, Map("k" -> cs(100, 0, 10, 20),
      "n" -> ColStats(100, 5, Some(bd(1)), Some(bd(2))),
      "s" -> ColStats(100, 0, Some("ua"), Some("uz")),
      "allnull" -> ColStats(100, 100, None, None),
      "const" -> cs(100, 0, 7, 7)))
    def am(e: Expression) = allMatch(e, pf)
    val k = a("k")
    // range containment proves; touching a bound flips by strictness
    assert(am(GreaterThanOrEqual(k, Literal(10))) &&
      !am(GreaterThan(k, Literal(10))) &&
      am(GreaterThan(k, Literal(9))))
    assert(am(LessThanOrEqual(k, Literal(20))) &&
      !am(LessThan(k, Literal(20))) && am(LessThan(k, Literal(21))))
    // a single null poisons any comparison proof
    assert(!am(GreaterThan(a("n"), Literal(0))))
    // equality only for constant files; In via the same route
    assert(!am(EqualTo(k, Literal(15))))
    assert(am(EqualTo(a("const"), Literal(7))) &&
      am(In(a("const"), Seq(Literal(3), Literal(7)))))
    assert(am(Not(EqualTo(k, Literal(9)))) &&
      !am(Not(EqualTo(k, Literal(15)))))
    // null proofs
    assert(am(IsNull(a("allnull"))) && am(IsNotNull(k)) &&
      !am(IsNotNull(a("n"))) && !am(IsNull(a("n"))))
    // prefix class containment
    assert(am(StartsWith(a("s"), Literal("u"))) &&
      !am(StartsWith(a("s"), Literal("ua"))))
    // And/Or composition; unknown shapes never prove
    assert(am(And(GreaterThan(k, Literal(5)), IsNotNull(k))))
    assert(am(Or(EqualTo(k, Literal(999)), LessThan(k, Literal(50)))))
    assert(!am(EqualTo(k, a("const"))))
    // empty file: vacuous truth
    assert(allMatch(EqualTo(k, Literal(1)), PerFile(0, Map.empty)))
  }

  test("aggWhere: exact sum/min/max from metadata, boundaries scan") {
    import graft.sources.TableStore.AggWhere
    val ts = freshStore()
    // v = 3k + 1 keeps sums/extremes distinctive; one NULL v inside
    ts.rewrite("t", spark.range(400).toDF("k")
      .withColumn("v", when($"k" === 17, lit(null).cast("long"))
        .otherwise($"k" * 3 + 1))
      .repartitionByRange(4, $"k"))
    ts.analyze("t", Seq("k", "v"))
    def ref(pred: org.apache.spark.sql.Column): AggWhere = {
      val rows = ts.read("t").filter(pred).select($"v")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      def bd(l: Long) = new java.math.BigDecimal(l)
      val vs = rows.flatten
      AggWhere(rows.length.toLong,
        bd(vs.sum),
        if (vs.isEmpty) None else Some(bd(vs.min)),
        if (vs.isEmpty) None else Some(bd(vs.max)))
    }
    def check(pred: org.apache.spark.sql.Column)
        : (AggWhere, Int, Int, Int) = {
      val d = ts.aggWhereDetail("t", pred, "v")
      assert(d._1 == ref(pred), s"agg for $pred: ${d._1} vs ${ref(pred)}")
      d
    }
    // straddling range: interior files settle from metadata
    val r = check($"k" >= 50 && $"k" < 350)
    assert(r._2 >= 2 && r._4 <= 2, r.toString)
    // whole table: pure metadata including the NULL-v row
    val all = check($"k" >= 0)
    assert(all._2 == 4 && all._4 == 0 && all._1.count == 400L,
      all.toString)
    // provably empty
    val none = check($"k" === -5)
    assert(none._1 == AggWhere(0L, java.math.BigDecimal.ZERO,
      None, None) && none._3 == 4, none.toString)
    // un-analyzed predicate shape: correct via fallback
    check($"k" % 7 === 3)
    // stale stats: appended file has no stats entry -> scanned
    ts.append("t", Seq((1001L, java.lang.Long.valueOf(9L)))
      .toDF("k", "v"))
    val stale = check($"k" >= 1000)
    assert(stale._1.sum == new java.math.BigDecimal(9L), stale.toString)
    // legacy stats lines without the sum field parse to sum=None —
    // aggWhere then DEMOTES proved-all files to scanning (wrong
    // totals impossible, only I/O degrades); new lines round-trip
    val legacy = FileStats.deserialize(
      "r=f1\t2\ns=f1\tv\t2\t0\tn:1\tn:5\t-\n" + // 7-field (bloom era)
      "r=f2\t1\ns=f2\tv\t1\t0\tn:3\tn:3\n")     // 6-field (pre-bloom)
    assert(legacy("f1").cols("v").sum.isEmpty &&
      legacy("f2").cols("v").sum.isEmpty)
    val rt = FileStats.deserialize(FileStats.serialize(Map("f" ->
      PerFile(2, Map("v" -> cs(2, 0, 1, 5).copy(
        sum = Some(new java.math.BigDecimal(6))))))))
    assert(rt("f").cols("v").sum.contains(new java.math.BigDecimal(6)))
    // double columns are rejected loudly
    val ts2 = freshStore()
    ts2.rewrite("d", Seq((1L, 1.5)).toDF("k", "x"))
    ts2.analyze("d", Seq("k", "x"))
    intercept[IllegalArgumentException] {
      ts2.aggWhere("d", $"k" >= 0, "x")
    }
  }
}
