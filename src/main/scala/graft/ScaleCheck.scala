package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One-command reproduction of the 10× scale sweep PLANS.md records as
  * ad-hoc spark-shell runs: regenerates the seeded sf1-style fixture
  * (documents ×10, embeddings ×10; r13: events and the TPC-H tables
  * ×10 as consistent key-offset copies, nation/region as true dims),
  * times the named control + production-default queries on BOTH
  * directories (one warmup, min of two timed passes into a noop sink —
  * the Bench discipline), and emits ONE JSON line with per-query
  * base/scaled seconds and the ratio. A ratio ≳ 10× on a linear
  * operator (or growth on a sublinear one) is a regression; the
  * PLANS.md tables cite the expected values.
  *
  * Env:
  *  - SPARK_GRAFT_SF_DIR    base fixture (default /root/testdata/sf0.1)
  *  - SPARK_GRAFT_SCALE_DIR scaled fixture dir (default /tmp/graft_sf1;
  *                          regenerated only when absent, or forced
  *                          with SPARK_GRAFT_REGEN=1)
  *  - SPARK_GRAFT_QUERIES   comma-separated name prefixes (default:
  *                          the PLANS.md control set)
  *
  * Fixture recipe (deterministic, seeds 4242/4243 — the PLANS.md sf1
  * recipe): documents = 10× base count, 30-word vocabulary DERIVED
  * from the base corpus, uniform 10–100 words/doc, 20 uniform sources,
  * 41/15/15/15/14% en/zh/fr/es/de, 5% near-dups (copy of an earlier
  * doc with one word replaced by `dup`), 1% exact dups; embeddings =
  * 10× base count of 64-dim normalized iid-normal vectors, labels
  * id % 10, 1% near-copies (σ=0.05 perturbation).
  */
object ScaleCheck {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false),
    StructField("label", IntegerType, nullable = false)))

  /** Deterministic driver-side document corpus (seed 4242). */
  private[graft] def genDocuments(n: Int, vocab: IndexedSeq[String],
                                  seed: Long = 4242L): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val langs = Array("en", "zh", "fr", "es", "de")
    val langCum = Array(0.41, 0.56, 0.71, 0.86, 1.0)
    val texts = new scala.collection.mutable.ArrayBuffer[String](n)
    (0 until n).map { i =>
      val r = rnd.nextDouble()
      val text =
        if (i > 0 && r < 0.05) {
          // near-dup: one word of an earlier doc replaced
          val src = texts(rnd.nextInt(i)).split(' ')
          src(rnd.nextInt(src.length)) = "dup"
          src.mkString(" ")
        } else if (i > 0 && r < 0.06) {
          texts(rnd.nextInt(i)) // exact dup
        } else {
          val words = 10 + rnd.nextInt(91)
          Seq.fill(words)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
        }
      texts += text
      val lr = rnd.nextDouble()
      val lang = langs(langCum.indexWhere(lr < _))
      Row(i.toLong, text, lang, s"src${rnd.nextInt(20)}",
        text.length.toLong)
    }
  }

  /** Deterministic driver-side embeddings (seed 4243). */
  private[graft] def genEmbeddings(n: Int, dim: Int,
                                   seed: Long = 4243L): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val vecs = new scala.collection.mutable.ArrayBuffer[Array[Float]](n)
    def normalize(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    (0 until n).map { i =>
      val vec =
        if (i > 0 && rnd.nextDouble() < 0.01) {
          // near-copy: σ=0.05 perturbation of an earlier vector
          val base = vecs(rnd.nextInt(i))
          normalize(base.map(_.toDouble + 0.05 * rnd.nextGaussian()))
        } else normalize(Array.fill(dim)(rnd.nextGaussian()))
      vecs += vec
      Row(i.toLong, vec.toSeq, i % 10)
    }
  }

  private def generate(spark: SparkSession, baseDir: String,
                       outDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(out, true)
    fs.mkdirs(out)
    val baseDocs = Tables.t(spark, baseDir, "documents")
    val baseEmb = Tables.t(spark, baseDir, "embeddings")
    // vocabulary derived from the base corpus: top-30 tokens by count
    // (ties by token) — matches the generator's 30-word vocab without
    // hardcoding it
    import org.apache.spark.sql.functions._
    val vocab = baseDocs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(30)
      .select("w").collect().map(_.getString(0)).toIndexedSeq
    val nDocs = (baseDocs.count() * 10).toInt
    val nEmb = (baseEmb.count() * 10).toInt
    val dim = baseEmb.select(size(col("embedding"))).head().getInt(0)
    System.err.println(
      s"[scalecheck] generating $nDocs docs (vocab ${vocab.length}) " +
        s"and $nEmb ${dim}-dim embeddings at $outDir")
    spark.createDataFrame(
        spark.sparkContext.parallelize(genDocuments(nDocs, vocab), 16),
        docSchema)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.createDataFrame(
        spark.sparkContext.parallelize(genEmbeddings(nEmb, dim), 16),
        embSchema)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // r13: events and the TPC-H fact/dim tables scale 10× too —
    // 10 key-offset copies with CONSISTENT foreign keys (copy i of
    // orders references copy i of customers, etc.), so the funnel/
    // session/survival/join families measure real growth instead of
    // an unchanged rider fixture. nation/region stay (true dims:
    // 10× customers per nation is the realistic scale-out). Offsets
    // are (max base key + 1), so copies never collide.
    val copies = spark.range(10)
      .select(col("id").cast("long").as("__i"))
    def keyMax(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L
    // uniquify: entity-NAME columns get a per-copy suffix — md5-of-
    // name uuid joins (q245's enrichment keys) would otherwise fan
    // out 10× on copy-duplicated names and read as a false quadratic
    def replicate(t: String, uniquify: Seq[String],
                  keyOffsets: (String, Long)*): Unit = {
      val base = Tables.t(spark, baseDir, t)
      val off = keyOffsets.toMap
      val outCols = base.columns.map { c =>
        off.get(c) match {
          case Some(m) => (col(c) + col("__i") * m).as(c)
          case None if uniquify.contains(c) =>
            concat(col(c), lit("#"), col("__i")).as(c)
          case None => col(c)
        }
      }
      base.crossJoin(copies).select(outCols.toIndexedSeq: _*)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    val custOff = keyMax(
      Tables.t(spark, baseDir, "customer"), "c_custkey")
    val suppOff = keyMax(
      Tables.t(spark, baseDir, "supplier"), "s_suppkey")
    val partOff = keyMax(
      Tables.t(spark, baseDir, "part"), "p_partkey")
    val orderOff = keyMax(
      Tables.t(spark, baseDir, "orders"), "o_orderkey")
    val evOff = keyMax(
      Tables.t(spark, baseDir, "events"), "event_id")
    val userOff = keyMax(
      Tables.t(spark, baseDir, "events"), "user_id")
    replicate("customer", Seq("c_name"), "c_custkey" -> custOff)
    replicate("supplier", Seq("s_name"), "s_suppkey" -> suppOff)
    replicate("part", Nil, "p_partkey" -> partOff)
    replicate("orders", Nil, "o_orderkey" -> orderOff,
      "o_custkey" -> custOff)
    replicate("lineitem", Nil, "l_orderkey" -> orderOff,
      "l_partkey" -> partOff, "l_suppkey" -> suppOff)
    replicate("events", Nil, "event_id" -> evOff,
      "user_id" -> userOff)
    val others = Seq("region", "nation")
    others.foreach { t =>
      val src = new Path(s"$baseDir/$t.parquet")
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new Path(s"$outDir/$t.parquet"), false, true,
          spark.sessionState.newHadoopConf())
    }
  }

  /** The PLANS.md control set: exact/LSH dedup and curation chains
    * (linear-or-better designs), ANN sized defaults, container
    * decodes, BM25, PageRank, URL canonicalization, PNG pixel decode.
    */
  private val defaultQueries = Seq(
    "q16", "q18", "q20", "q21", "q31", "q38", "q55", "q57", "q61",
    "q66", "q78", "q79", "q80", "q81", "q82", "q88", "q90", "q106",
    "q108", "q109", "q110",
    // round 10: AC blocklist screen/spans/redaction (one automaton
    // pass, linear), trigram LM (model-scale exchanges), script-mix
    // kernel, served saved-index IVF-PQ, quality election, classifier
    // training, leakage-free splits
    "q115", "q116", "q117", "q118", "q119", "q120", "q121", "q122",
    "q123",
    // round 11 (documents-scaling ops; at the time orders/events rode
    // along unchanged): release capstone, packing, winnowing pairs +
    // persisted screen, KS drift, dHash / envelope / silence decodes,
    // content digest, MAD outliers
    "q149", "q150", "q151", "q152", "q153", "q154", "q155", "q156",
    "q157", "q160",
    // round 13 (the fixture now scales events + TPC-H tables 10× with
    // consistent FKs, so these measure real growth): event funnel,
    // poisson + grouped bootstrap, Kaplan-Meier survival, peak
    // session concurrency, the six-table Q5-shape and Q3-shape joins,
    // and the full listings lifecycle (customer/supplier/part-fed)
    "q158", "q171", "q191", "q226", "q240", "q243", "q244", "q245",
    // round 13 late additions: rentals + transcripts lifecycles,
    // equi-depth bins, Q18 join-back, knn classification, gap fill
    "q246", "q247", "q248", "q250", "q251", "q252", "q253",
    "q254",
    // round 14: the four remaining DAG lifecycles (permits, rezoning,
    // bylaws, financial reports) + the SQL-text twins (q260 must track
    // q243's join growth, q261 q04's window, q262 q115's kernel scan)
    "q256", "q257", "q258", "q259", "q260", "q261", "q262",
    // round 14 join shapes: Q10 returned-revenue TakeOrdered, Q7
    // two-nation pair residual, Q19 disjunctive bracket residual
    "q263", "q264", "q265")

  def main(args: Array[String]): Unit = {
    val baseDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleDir =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val spark = Harness.session(defaultCpus = 32)
    Tables.assertEventsTsReadable(spark, baseDir)

    val fs = new org.apache.hadoop.fs.Path(scaleDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(s"$scaleDir/_graft_ready")
    if (sys.env.get("SPARK_GRAFT_REGEN").contains("1") ||
        !fs.exists(marker)) {
      generate(spark, baseDir, scaleDir)
      fs.create(marker, true).close()
    } else System.err.println(s"[scalecheck] reusing fixture $scaleDir")

    val prefixes = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultQueries)
    // exact id match (qNN == qNN_*): a bare startsWith would make
    // "q16" swallow q160+ now that ids have three digits
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(p => n == p || n.startsWith(p + "_")))

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timed(name: String, dir: String, tag: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case t: Throwable =>
          errors(name) =
            Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
          t.printStackTrace(System.err)
      } finally Harness.releaseCaches(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scalecheck:$tag] $name $dt%.2fs" +
        (if (errors.contains(name)) " FAILED" else ""))
      dt
    }
    def minOf2(name: String, dir: String, tag: String): Double = {
      timed(name, dir, s"$tag-warmup")
      math.min(timed(name, dir, s"$tag-a"), timed(name, dir, s"$tag-b"))
    }
    val rows = names.map { n =>
      val b = minOf2(n, baseDir, "base")
      val s = minOf2(n, scaleDir, "scaled")
      n -> (b, s)
    }
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val qJson = rows.map { case (n, (b, s)) =>
      val ratio = if (b > 0) s / b else -1.0
      f""""$n":{"base":$b%.3f,"scaled":$s%.3f,"ratio":$ratio%.2f}"""
    }.mkString(",")
    def jstr(s: String) = "\"" +
      s.map(c => if (c < ' ' || c == '"' || c == '\\') ' ' else c) + "\""
    val errJson = errors.map { case (n, e) => s""""$n":${jstr(e)}""" }
      .mkString(",")
    println(s"""{"metric":"scale_ratio_10x","base_dir":"$baseDir",""" +
      s""""scale_dir":"$scaleDir","load_avg":$loadAvg,""" +
      s""""queries":{$qJson},"errors":{$errJson}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
