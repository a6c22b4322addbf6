package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality (no reference counterpart — the reference has
  * no graph stage; PageRank is the public Brin/Page formulation). In
  * the LLM-pipeline frame this is the domain-authority quality prior
  * (CommonCrawl-derived corpora weight documents by host centrality) —
  * it complements [[Dedup.connectedComponents]]'s structure extraction
  * with importance scoring on the same edge shape.
  */
object GraphRank {

  // same owned-release discipline as Dedup: the final round's frame is
  // returned pinned (it feeds the caller's consumption); a long-lived
  // session releases it here once consumed
  private val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private def track(df: DataFrame): DataFrame = synchronized {
    pinned += df; df
  }
  // one-line enrollment in the engine-wide release point
  graft.Engine.register("GraphRank")(() => releaseIntermediates())

  /** Unpersist every frame PageRank runs have pinned. */
  def releaseIntermediates(): Unit = synchronized {
    pinned.foreach(_.unpersist(blocking = false))
    pinned.clear()
  }

  /** Fixed-iteration PageRank over EXACT INTEGER arithmetic: ranks are
    * longs scaled by `scale`, damping is the rational num/den, and
    * every update is integer division on positive longs — so the
    * trajectory is deterministic, partitioning-invariant, AND immune
    * to floating-point reassociation (an earlier double formulation
    * hash-mismatched its oracle by 1 ulp because DuckDB contracts
    * `a + b·c` into a fused multiply-add where the JVM rounds twice;
    * integers cannot drift, in any engine).
    *
    * Update: r'_q = baseQ + (Σ_in ⌊r_q/deg⌋)·num ÷ den, with
    * baseQ = (scale − scale·num÷den) ÷ n. Floor losses make Σr
    * slightly < 1 (≤ |E|/scale per round) — the standard quantized
    * formulation.
    *
    * Dangling nodes (a dst that never appears as src) would silently
    * leak rank mass; this implementation REJECTS them loudly —
    * symmetrize the edge list or pre-drop sinks (the q90 gate uses the
    * symmetrized form, where none can exist).
    *
    * Scale shape per iteration (the Pregel norm): one ranks⋈edges join
    * shuffled on src, then ONE dst-keyed exact-long aggregation that
    * also carries deg — each node contributes a ZERO-contribution seed
    * row (c=0, deg) unioned into the same exchange, so nodes with no
    * in-edges still emerge and the former per-round deg join-back is
    * folded away (round 8; was join + agg + join per round). All rows
    * are bare (id, deg, rank); lineage truncates per round via
    * [[Loops.truncate]] so round i never re-executes rounds 1..i−1,
    * and the edge list persists src-partitioned for the loop — the
    * contrib join is exchange-free on the edge side every round.
    *
    * Returns (id, r_q, r): the exact long rank and its double form
    * (one division — deterministic).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingNum: Long = 85L, dampingDen: Long = 100L,
               scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters >= 1, got $iters")
    require(dampingNum > 0 && dampingNum < dampingDen,
      s"damping $dampingNum/$dampingDen outside (0,1)")
    require(scale >= 1000000L, s"scale >= 1e6, got $scale")
    require(scale <= Long.MaxValue / dampingDen,
      "scale * dampingDen must stay inside Long")
    // hash-partition the edge list by src ONCE, then dedup: every
    // round's contrib join is keyed on src, so a src-partitioned
    // persisted edge list is never re-shuffled inside the loop —
    // and repartition-BEFORE-distinct costs one exchange, not two
    // (HashPartitioning(src) satisfies the distinct's (src,dst)
    // clustering since src ⊆ keys, so the aggregate is exchange-free
    // and its output keeps the src partitioning)
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(graft.Par.n, col("src")).distinct().persist()
    try {
      // degrees, node set, dangling check and |V| in ONE aggregate
      // pass (was: distinct-nodes ×2 + anti-join + two counts — ~40%
      // of the q90 wall): a node's out-degree is the number of rows
      // where it appears as src; a dst-only node (out-degree 0) is
      // exactly the dangling case
      val degAll = e.select(col("src").as("id"), lit(1L).as("out"))
        .unionByName(e.select(col("dst").as("id"), lit(0L).as("out")))
        .groupBy(col("id")).agg(sum(col("out")).as("deg"))
      // lazy: the header aggregate materializes the checkpoint
      val (deg0, relDeg) = Loops.truncate(degAll, eager = false)
      val hdr = deg0.agg(count(lit(1)).as("n"),
        sum((col("deg") === 0L).cast("long")).as("dangling")).head()
      val n = hdr.getLong(0)
      val dangling = if (hdr.isNullAt(1)) 0L else hdr.getLong(1)
      if (dangling > 0) throw new IllegalArgumentException(
        s"$dangling dangling node(s) (dst with no out-edges) would " +
          "leak rank mass - symmetrize the edge list or drop sinks")
      require(n > 0, "empty graph")
      // exact long constants (any engine recomputing them agrees)
      val r0q = scale / n
      val baseQ = (scale - scale * dampingNum / dampingDen) / n
      var pending: List[() => Unit] = List(relDeg)
      var ranks = deg0.select(col("id"), col("deg"), lit(r0q).as("r_q"))
      for (it <- 1 to iters) {
        val contrib = e.join(ranks, e("src") === ranks("id"))
          .select(col("dst"), expr("r_q div deg").as("c"),
            lit(null).cast("long").as("deg0"))
        // zero-contribution seed per node: adds 0 to the exact sum,
        // carries deg through the SAME aggregate exchange (max over
        // exactly one non-null), and guarantees every node emerges —
        // the former deg join-back per round is gone
        val seeds = ranks.select(col("id").as("dst"), lit(0L).as("c"),
          col("deg").as("deg0"))
        val step = contrib.unionByName(seeds)
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("csum"), max(col("deg0")).as("deg"))
          .select(col("dst").as("id"), col("deg"),
            (lit(baseQ) +
              expr(s"csum * $dampingNum div $dampingDen"))
              .as("r_q"))
        // fixed-iteration loop ⇒ no per-round driver decision is
        // needed, so rounds are LAZY checkpoints (plan depth still 1
        // per round) chained into ONE materializing job: the FINAL
        // round is eager, computing the whole chain while the edge
        // list is still cached, then every predecessor (deg + rounds
        // 1..iters−1) releases. Trade: all rounds' blocks are pinned
        // during that single job instead of two rounds at a time —
        // (id, deg, r_q) rows, MEMORY_AND_DISK, bounded by iters·|V|.
        val eager = it == iters
        val (ck, rel) = Loops.truncate(step, eager)
        if (eager) pending.foreach(f => f())
        else pending ::= rel
        ranks = ck
      }
      // final round's blocks stay pinned for the caller —
      // Loops.releaseIntermediates() frees them at session idle points
      ranks.select(col("id"), col("r_q"),
        (col("r_q").cast("double") / lit(scale.toDouble)).as("r"))
    } finally e.unpersist(blocking = false)
  }

  /** Per-node TRIANGLE counts — the local clustering signal next to
    * [[pageRank]] (centrality) and Dedup's connected components
    * (reachability): spam/SEO link farms and template clusters show up
    * as triangle-dense neighborhoods long before they dominate rank.
    * Input edges are read as UNDIRECTED; self-loops and duplicate/
    * reverse edges collapse first (simple graph).
    *
    * Scale shape — the degree-ordered compact-forward algorithm
    * (Latapy 2008): every edge is ORIENTED from its lower endpoint in
    * the (degree, id) total order, so a node's out-neighborhood is
    * bounded by O(√m) regardless of its true degree; wedges are built
    * from shared LOWER endpoints only and closed by one equi-join
    * against the oriented edge set. Work is O(m^1.5) worst case —
    * hub nodes never enumerate their full neighborhood pairs, which
    * the naive adjacency self-join (Θ(Σ deg²)) does. Exact integer
    * counts: any engine agrees bit-for-bit (the q113 oracle closes
    * the plain a<b<c triple join instead — same triangles).
    * Output: (id, triangles) for nodes in ≥ 1 triangle.
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val canon = edges
      .select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val e = track(canon.persist())
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orientation key: (deg, id) as an orderable struct — ties broken
    // by id, so ≺ is total and every triangle has exactly one
    // lowest-endpoint wedge
    val withKeys = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        struct(col("da").as("d"), col("a").as("i")).as("ka"),
        struct(col("db").as("d"), col("b").as("i")).as("kb"))
    // oriented feeds THREE join sides (both wedge legs + the closure
    // probe on a different key): pin it, or the canon→deg double-join
    // subtree re-executes per consumer (the lshCandidatePairs rule)
    val oriented = track(withKeys.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("u"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("w"),
      when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kw"))
      .persist())
    val wedges = oriented.select(col("u"), col("w").as("v1"),
        col("kw").as("k1"))
      .join(oriented.select(col("u"), col("w").as("v2"),
        col("kw").as("k2")), Seq("u"))
      .filter(col("k1") < col("k2"))
    val tri = wedges.join(
      oriented.select(col("u").as("v1"), col("w").as("v2")),
      Seq("v1", "v2"))
    tri.select(explode(array(col("u"), col("v1"), col("v2"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan,
    * Albert & Kumara 2007, "Near linear time algorithm to detect
    * community structures in large-scale networks") — the soft-cluster
    * companion to [[Dedup.connectedComponents]] (which only finds
    * reachability): template farms, mirror rings and topic hubs show
    * up as label communities even when the whole graph is one
    * connected component. Edges are read UNDIRECTED; self-loops and
    * duplicate/reverse edges collapse first (simple graph — a
    * multi-edge must not double its vote).
    *
    * Determinism contract: the paper's random asynchronous updates and
    * random tie-breaks would make the gate unhashable, so this is the
    * deterministic synchronous variant — every node updates from the
    * SAME previous round, and the vote winner is the total order
    * (count DESC, label ASC): most frequent neighbor label, ties to
    * the smallest. Fixed `iters` rounds (synchronous LPA can
    * oscillate on bipartite-ish structure; a fixed-round snapshot is
    * the reproducible form — the classic caveat from the paper §3).
    * Label values are node ids, so min-tie-breaking needs only the id
    * type's natural ordering (longs or strings both work).
    *
    * Scale shape per round (the Pregel norm, [[pageRank]]'s loop
    * discipline): ONE labels⋈edges join shuffled on src, one
    * (dst, label)-keyed exact count — map-side partials collapse hot
    * labels before the exchange — and one dst-keyed argmax as
    * `min(struct(−count, label))` (no window function: the argmax
    * folds map-side too). Labels are one row per node; lineage
    * truncates per round so round i never re-executes 1..i−1.
    *
    * Returns (id, lbl) — every node that appears in any edge.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, s"iters >= 1, got $iters")
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    // src-partitioned once, like pageRank — repartition BEFORE the
    // dedup so one exchange does both (HashPartitioning(src) satisfies
    // the (src,dst) clustering and survives the aggregate); the
    // per-round vote join is keyed on src, so the persisted edge list
    // never re-shuffles, and the node-set distinct below is
    // exchange-free on the same partitioning
    val e = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(graft.Par.n, col("src")).distinct().persist()
    try {
      val (lbl0, relLbl) = Loops.truncate(
        e.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("lbl")), eager = false)
      var pending: List[() => Unit] = List(relLbl)
      var labels = lbl0
      for (it <- 1 to iters) {
        val votes = e.join(labels, e("src") === labels("id"))
          .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        val step = votes.groupBy(col("dst"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
            .as("m"))
          .select(col("dst").as("id"), col("m.l").as("lbl"))
        // the pageRank lazy-chain discipline: fixed iters ⇒ rounds are
        // lazy checkpoints, the final one eager — ONE materializing
        // job for the whole loop, predecessors released after it
        val eager = it == iters
        val (ck, rel) = Loops.truncate(step, eager)
        if (eager) pending.foreach(f => f())
        else pending ::= rel
        labels = ck
      }
      labels
    } finally e.unpersist(blocking = false)
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009 —
    * the strongest of the classic local similarity indices): for
    * every non-adjacent pair (u, v) with common neighbors, score
    * Σ_{z ∈ N(u)∩N(v)} 1/deg(z), as the exact integral
    * Σ ⌊10⁶/deg(z)⌋ (`div` per z, summed as longs — engine-portable,
    * and 1/deg is already the quantity, so no transcendental).
    * Edges canonicalize undirected (self-loops and duplicates
    * dropped). Returns the top `k` candidate pairs
    * (u, v, score_micro, common), u < v, ties on (u, v).
    *
    * Scale: the wedge generation is the z-keyed adjacency self-join —
    * Σ deg(z)² pairs, the same budget triangleCounts pays, EXCEPT
    * hubs: a node with deg > `maxDeg` is excluded as a wedge CENTER
    * (its endpoints keep their other wedges). That cap is the
    * standard production guard — a hub's 1/deg contribution is
    * negligible while its deg² fan-out is the whole cost; the cap
    * makes the skew bounded and the tradeoff explicit. The non-edge
    * screen is one anti-join against the canonical edge set on the
    * pair key; the final top-k is a single bounded rank.
    */
  def raLinkPrediction(edges: DataFrame, srcCol: String,
                       dstCol: String, k: Int,
                       maxDeg: Int = 64): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(maxDeg >= 2, s"maxDeg >= 2, got $maxDeg")
    val canon = edges
      .select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    // e feeds three consumers (both wedge legs via keep + the
    // non-edge anti-join): pin it, engine-wide release point
    // unpersists later (the triangleCounts discipline)
    val e = track(canon.persist())
    val adj = e.select(col("a").as("z"), col("b").as("x"))
      .unionByName(e.select(col("b").as("z"), col("a").as("x")))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("d"))
    val keep = adj.join(deg, Seq("z")).filter(col("d") <= maxDeg)
    val pairs = keep.select(col("z"), col("x").as("u"), col("d"))
      .join(keep.select(col("z"), col("x").as("v")), Seq("z"))
      .filter(col("u") < col("v"))
    val scored = pairs.groupBy(col("u"), col("v"))
      .agg(sum(expr("1000000 div d")).cast("long")
        .as("score_micro"),
        count(lit(1)).cast("long").as("common"))
    val nonEdge = scored.join(
      e.select(col("a").as("u"), col("b").as("v")),
      Seq("u", "v"), "left_anti")
    TopK.perGroup(nonEdge, Seq(lit(1)),
        Seq(col("score_micro").desc, col("u"), col("v")), k)
      .drop("rk")
  }

  /** k-core extraction by iterative peeling (Seidman 1983; the
    * Batagelj–Zavrsnik bucket algorithm's distributed form): drop
    * every node whose degree in the SURVIVING subgraph is < k, and
    * repeat until a fixpoint — what remains is the maximal subgraph
    * with minimum degree ≥ k, the standard dense-region extractor
    * (spam-farm and community kernels in link graphs; the "keep only
    * well-embedded hosts" quality prior next to [[pageRank]]).
    * Edges canonicalize undirected (self-loops and duplicates
    * dropped). Returns (id, core_deg) for the surviving nodes —
    * core_deg is the node's degree WITHIN the core.
    *
    * Convergence is detected by node COUNT: surviving sets shrink
    * monotonically (a dropped node's degree can never recover), so an
    * unchanged count is an unchanged set. Peel depth is bounded by
    * the graph's degeneracy ordering, not |V| — a chain of length L
    * hanging off a dense kernel peels in L rounds; `maxRounds` fails
    * LOUDLY if the fixpoint isn't reached (raise it for pathological
    * chains rather than silently returning a non-core).
    *
    * Scale shape per round: ONE node-keyed map-side degree aggregate
    * over the current edge set + two semi-joins restricting edges to
    * survivors; the edge frame shrinks monotonically and each round's
    * frame is persisted while its predecessor is released (the
    * [[labelPropagation]] discipline). The convergence probe is the
    * aggregate's single-long count.
    */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds >= 1, got $maxRounds")
    val canon = edges
      .select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    // lineage-truncate each round (the labelPropagation discipline):
    // a round's plan references its predecessor TWICE (both semi-join
    // legs), so un-truncated lineage doubles per round and the
    // analyzer heap-exhausts near 8-10 rounds. Each round's survivor
    // aggregate is ALSO checkpointed: the old shape recomputed it
    // three times per round (convergence count + both semi-join legs)
    var (cur, relCur) = Loops.truncate(canon)
    var relSurv: () => Unit = () => ()
    var prevNodes = -1L
    var rounds = 0
    var survivors: DataFrame = null
    var done = false
    while (!done) {
      relSurv() // previous round's survivor blocks
      // lazy: the convergence count below materializes the checkpoint
      val (surv, rel) = Loops.truncate(cur.select(col("a").as("id"))
        .unionByName(cur.select(col("b").as("id")))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("core_deg"))
        .filter(col("core_deg") >= k), eager = false)
      survivors = surv
      relSurv = rel
      val n = survivors.count() // convergence probe over cached blocks
      if (n == prevNodes) done = true
      else {
        rounds += 1
        require(rounds <= maxRounds,
          s"kcore: no fixpoint after $maxRounds peel rounds " +
            s"($n survivors) — raise maxRounds")
        prevNodes = n
        val keep = survivors.select(col("id"))
        val next = cur
          .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        val (ck, rel2) = Loops.truncate(next)
        relCur()
        cur = ck
        relCur = rel2
      }
    }
    // final survivors stay pinned for the caller (Loops release point)
    survivors.select(col("id"), col("core_deg").cast("long")
      .as("core_deg"))
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998):
    * cc(v) = triangles(v) / C(deg(v), 2) — what fraction of a node's
    * neighbor pairs are themselves connected, the "is this node
    * inside a clique or a star" signal that composes [[triangleCounts]]
    * (the numerator) with the degree frame (the denominator). Exact
    * ppm: ⌊2·10⁶·tri/(deg·(deg−1))⌋, one division of non-negative
    * integers (quotient ≤ 10⁶ — triangles ≤ C(deg,2) always); deg < 2
    * reports 0. Returns (id, deg, triangles, cc_ppm) for every node
    * touching an edge.
    *
    * Scale: [[triangleCounts]]'s Σdeg² wedge budget dominates; the
    * coefficient itself adds one degree aggregate and one left join
    * keyed on the node.
    */
  def clusteringCoeff(edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame = {
    val D = "decimal(38,0)"
    val canon = edges
      .select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val deg = canon
      .select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    deg.join(triangleCounts(edges, srcCol, dstCol), Seq("id"), "left")
      .na.fill(0L, Seq("triangles"))
      .select(col("id"), col("deg").cast("long").as("deg"),
        col("triangles").cast("long").as("triangles"),
        expr(s"""CAST(CASE WHEN deg >= 2
          THEN (CAST(2000000 AS $D) * triangles)
            div (CAST(deg AS $D) * (deg - 1))
          ELSE 0 END AS BIGINT)""").as("cc_ppm"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over all DIRECTED edge slots (each undirected
    * edge contributes both orientations — the standard convention, so
    * Σx = Σy and the statistic is symmetric). Positive = hubs attach
    * to hubs (social cores); negative = hubs attach to leaves
    * (star/infrastructure topology — most web and link graphs).
    * Exact integers end to end: degrees are counts, and the report is
    * the SIGNED SQUARE sign(A)·⌊⌊A²/Vx⌋·10⁶/Vy⌋ ppm
    * ([[graft.operators.Profile.spearmanRho2]]'s divide chain, every
    * quotient Cauchy–Schwarz-bounded so Spark's long-returning `div`
    * never truncates). Returns one row (m_directed, assort2_signed_ppm).
    *
    * Scale: one degree aggregate (map-side), two broadcast-or-hash
    * joins decorating each edge slot with its endpoint degrees, one
    * scalar fold. Accumulator range: A ≤ m·Σxy ≤ m²·d_max² must stay
    * inside decimal(38,0) when squared — fine through ~10⁸ directed
    * edges at d_max 10³; beyond that, sample edge slots (documented,
    * not silent).
    */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val D = "decimal(38,0)"
    val canon = edges
      .select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val sym = canon.select(col("a").as("s"), col("b").as("d"))
      .unionByName(canon.select(col("b").as("s"), col("a").as("d")))
    val deg = sym.groupBy(col("s").as("id"))
      .agg(count(lit(1)).as("dg"))
    sym
      .join(deg.select(col("id").as("s"), col("dg").as("__x")),
        Seq("s"))
      .join(deg.select(col("id").as("d"), col("dg").as("__y")),
        Seq("d"))
      .agg(count(lit(1)).cast(D).as("__m"),
        sum(col("__x").cast(D)).as("__sx"),
        sum(col("__y").cast(D)).as("__sy"),
        sum(col("__x").cast(D) * col("__y").cast(D)).as("__sxy"),
        sum(col("__x").cast(D) * col("__x").cast(D)).as("__sxx"),
        sum(col("__y").cast(D) * col("__y").cast(D)).as("__syy"))
      .select(col("__m").cast("long").as("m_directed"),
        expr(s"""CAST(CASE WHEN (__m * __sxx - __sx * __sx) > 0
            AND (__m * __syy - __sy * __sy) > 0
          THEN (CASE WHEN __m * __sxy - __sx * __sy >= 0
              THEN 1 ELSE -1 END)
            * ((CAST((((__m * __sxy - __sx * __sy)
                * (__m * __sxy - __sx * __sy))
                div (__m * __sxx - __sx * __sx)) AS decimal(38,0))
              * 1000000) div (__m * __syy - __sy * __sy))
          ELSE 0 END AS BIGINT)""").as("assort2_signed_ppm"))
  }

  /** Multi-source BFS hop labeling with a depth cap: each node
    * reachable from the seed set within `maxDepth` undirected hops
    * gets its MINIMUM hop distance — the crawl-depth / blast-radius
    * primitive (how far is every host from the trusted seed list; a
    * node beyond the cap is simply absent, the standard frontier
    * cutoff). Level-synchronous BFS is inherently min-correct: a node
    * joins the visited set the FIRST round it appears, so no
    * min-aggregation is ever needed. Returns (id, depth), seeds at
    * depth 0 (seeds need not touch any edge).
    *
    * Scale shape per round: ONE adjacency⋈frontier hash join keyed on
    * the frontier node + a distinct + one anti-join against the
    * visited set — the Pregel frontier norm; rounds are capped at
    * `maxDepth` by CONTRACT (not a convergence failure), with an
    * early exit when a frontier empties. Frontier/visited frames are
    * persisted per round with lineage truncation (the [[kcore]]
    * discipline — visited is referenced by both the anti-join and the
    * union).
    */
  def bfsLayers(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedIdCol: String,
                maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth >= 1, got $maxDepth")
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    // src-partitioned once (the pageRank discipline, repartition
    // BEFORE distinct so one exchange does both): the per-round
    // frontier join is keyed on src, so adj never re-shuffles
    val adj = raw
      .unionByName(raw.select(col("dst").as("src"),
        col("src").as("dst")))
      .repartition(graft.Par.n, col("src")).distinct().persist()
    try {
      var (visited, relVis) = Loops.truncate(
        seeds.select(col(seedIdCol).as("id")).distinct()
          .select(col("id"), lit(0L).as("depth")))
      var nVisited = visited.count()
      var frontierDepth = 0L
      var done = false
      while (!done && frontierDepth < maxDepth) {
        val frontier = visited.filter(col("depth") === frontierDepth)
          .select(col("id"))
        val next = adj.join(frontier, adj("src") === frontier("id"),
            "inner")
          .select(adj("dst").as("id")).distinct()
          .join(visited.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), lit(frontierDepth + 1L).as("depth"))
        // lazy: the probe count materializes the checkpoint
        val (grown, relGrown) = Loops.truncate(
          visited.unionByName(next), eager = false)
        val after = grown.count() // probe materializes + counts
        if (after == nVisited) {
          relGrown()
          done = true
        } else {
          relVis()
          relVis = relGrown
          visited = grown
          nVisited = after
          frontierDepth += 1L
        }
      }
      visited
    } finally adj.unpersist(blocking = false)
  }
}
