package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.IterativeCompute.CheckpointChain

/** PageRank over a directed edge list — the canonical "importance from link
  * structure" signal a training-data pipeline uses to weight or filter web
  * documents (domain/page authority), and the second member of the engine's
  * iterative-compute family next to [[DedupClusters]].
  *
  * Semantics (the standard damped random surfer, dangling mass
  * redistributed uniformly):
  *
  *   pr'(v) = (1-d)/N + d * ( sum_{u->v} pr(u)/out(u)  +  dangling/N )
  *
  * where `dangling` is the total rank sitting on nodes with no out-edges.
  * Ranks sum to exactly 1 at every iteration (up to float addition), so the
  * result is directly usable as a sampling weight.
  *
  * Scale shape: the edge list is pre-joined ONCE with out-degrees so each
  * iteration is a single equi-join (edges ⋈ ranks on src, the only big
  * shuffle, partitioned the same way every round) plus a dst hash-agg with
  * map-side combine. Ranks are one row per node — broadcast-sized relative
  * to edges on real graphs. The dangling term and the L1 convergence delta
  * are driver scalars read from OBSERVED METRICS of each round's own
  * checkpoint job (r20, like the convergence count in
  * [[DedupClusters.components]] — never per-node driver state, and never a
  * separate fixed-floor job). Lineage is truncated every round through
  * [[IterativeCompute.CheckpointChain]] and the result is handed off with
  * zero retained storage blocks.
  *
  * Not oracle-comparable (float fixed point) — verified in GraphOpsSpec
  * against a driver-side dense power iteration on the same semantics.
  */
object GraphOps {

  /** Both orientations of a pair list in ONE pass: explode replaces the
    * `pairs.union(pairs.swap)` idiom, whose two branches each re-executed
    * the (possibly expensive) upstream pair pipeline, and whose usual
    * trailing `.distinct()` added an Exchange + HashAggregate over edge
    * volume. Callers must pass a DISTINCT pair list with a != b (true of
    * every near-dup pair kernel: pairs are keyed by an unordered rep pair,
    * generated exactly once) — then the symmetrized set is distinct by
    * construction and needs no shuffle at all (guide §2.4).
    */
  private[ops] def symmetrized(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** @param edges   (src: long, dst: long) directed edges; duplicates are
    *                collapsed (a repeated link is one edge, the usual
    *                web-graph convention)
    * @param damping d in [0,1); 0.85 is the classic choice
    * @param maxIter hard round bound
    * @param tol     stop once sum |pr' - pr| < tol
    * @return (node, pagerank) for every node appearing as src or dst
    */
  /** Single-source BFS hop distances over an UNDIRECTED edge list — the
    * third iterative-compute member next to [[DedupClusters]] (components)
    * and [[pagerank]]. In a dedup pipeline this is the "blast radius" query:
    * how far does a near-dup neighborhood extend from a given document, and
    * at what transitive depth — chains of pairwise-similar docs are how
    * template families evade pairwise thresholds.
    *
    * Scale shape: classic frontier expansion, TWO hops packed per fused
    * round (the DedupClusters.components 2-hop discipline — recomputing the
    * small first-hop frontier inside the fused plan is cheaper than paying
    * the per-round materialization floor twice), so rounds =
    * ceil(eccentricity/2), with `maxIter` bounding HOPS (the second hop is
    * suppressed on an odd budget's last round). The r20 exchange audit
    * (guide §2.4/§3.1 — at the sf0.1 fixed floor every AQE stage is a job,
    * so exchanges per round ARE the cost; at 100 TB the same exchanges are
    * the bytes) reshaped each round three ways:
    *
    *   - the symmetrized edge list is persisted HASH-PARTITIONED BY src
    *     once, so no hop ever re-shuffles the edge list: hop 1 probes it
    *     with a broadcast frontier, and hop 2's frontier arrives already
    *     hash(node)-partitioned from its distinct — co-partitioned with
    *     the edge layout, sort-only;
    *   - a neighbor of a hop-h node can only sit at hops >= h-1, so the
    *     settled-set anti-join probes the LAST TWO LEVELS (frontier-scale)
    *     instead of the whole dist (graph-scale);
    *   - level sizes are driver scalars from each round's OBSERVED metrics
    *     (no count jobs), and double as the broadcast-vs-shuffle dispatch
    *     for the frontier/settled sides (4M-row cap, the kcore rule).
    *
    * Per round exactly ONE job-submitting action runs — the (node, hop)
    * chain's checkpoint — with termination (zero rows at the round's
    * newest hop, i.e. an empty next frontier) read from its observed
    * metric, so an odd-eccentricity graph no longer pays an extra
    * empty-frontier round. Lineage is cut per round by
    * [[IterativeCompute.CheckpointChain]]; the edge persist is dropped
    * before handoff, so zero storage blocks survive the call. Unlike
    * min-label propagation this visits each node once, so BFS from a seed
    * set is also the cheap way to extract one component.
    *
    * @param edges  (src: long, dst: long) undirected pairs (symmetrized here)
    * @param source start node; if None, the smallest node id in the edge set
    *               (deterministic without a caller-side action)
    * @param localMaxEdges driver BFS dispatch bound (the
    *               [[DedupClusters.LocalComponentsMaxEdges]] size-dispatch
    *               discipline and the same collected-footprint math: ~32 B
    *               per (Long, Long) edge tuple plus primitive adjacency
    *               arrays at the bound — every distributed round pays
    *               ceil(ecc/2) per-stage scheduling floors that a
    *               microsecond driver walk makes pure overhead on a small
    *               graph; a 100 TB near-dup graph sits far above the bound
    *               and takes the distributed rounds unchanged. 0 forces
    *               the distributed rounds — spec/parity hook)
    * @return (node, hop) for every node reachable from the source, hop 0 = source
    */
  def bfsHops(edges: DataFrame, source: Option[Long] = None, maxIter: Int = 100,
      localMaxEdges: Long = DedupClusters.LocalComponentsMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val dir = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // both orientations from ONE pass (r19): the old self-union executed
    // the whole upstream pair pipeline once per branch; distinct stays —
    // this is a public op whose callers may pass duplicate edges. The
    // frame is PERSISTED (not lineage-cut): its plan is static, persist
    // keeps the hash(src) layout visible to every round's join (a
    // checkpoint's RDD scan forgets it), and an executor loss recomputes
    // from lineage.
    val eP = dir.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst")).distinct()
      .repartition(col("src"))
      .persist()
    // one scalar job that doubles as the cache fill AND the size dispatch
    val stats = eP.agg(min(col("src")), count(lit(1))).head()
    val nEdges = stats.getLong(1)
    val src0 = source.getOrElse(stats.getLong(0))
    if (nEdges <= localMaxEdges) {
      val result = bfsLocal(eP, src0, maxIter)
      eP.unpersist(blocking = false)
      return result
    }
    val bcastCap = 4L << 20
    def gated(df: DataFrame, n: Long): DataFrame =
      if (n <= bcastCap) broadcast(df) else df
    // name-based joins throughout: the second hop's frontier is itself
    // edge-derived INSIDE the same fused plan, so df("col") references
    // would hit self-join attribute ambiguity; usingColumns joins resolve
    // clean. `fN < 0` marks a frontier of unknown size (hop 2's), which
    // must not be broadcast blindly.
    def expand(frontier: DataFrame, fN: Long, settled: DataFrame, sN: Long,
        h: Long): DataFrame =
      eP.join(gated(frontier.withColumnRenamed("node", "src").select(col("src")),
            if (fN < 0) Long.MaxValue else fN),
          Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(gated(settled.select(col("node")), sN), Seq("node"), "left_anti")
        .withColumn("hop", lit(h))
    val distChain = new CheckpointChain(spark)
    var dist = distChain.next(Seq(src0).toDF("node").withColumn("hop", lit(0L)))
    var hop = 0L
    var lastN = 1L // |level hop|
    var prevN = 0L // |level hop-1|
    var growing = true
    while (growing && hop < maxIter) {
      val frontier = dist.filter(col("hop") === hop).select(col("node"))
      // visited neighbors of a hop-h node sit at hops >= h-1: the settled
      // probe is the last two levels, not the whole dist
      val recent = dist.filter(col("hop") >= hop - 1)
      val f1 = expand(frontier, lastN, recent, prevN + lastN, hop + 1)
      // hop 2's settled set: level hop ∪ f1 (a neighbor of a hop+1 node
      // sits at hop >= hop); f1's size is unknown at plan time, so this
      // side never broadcasts
      val next =
        if (hop + 2 <= maxIter)
          dist.union(f1).union(
            expand(f1.select(col("node")), -1L,
              dist.filter(col("hop") === hop).union(f1),
              Long.MaxValue, hop + 2))
        else dist.union(f1)
      val h1 = hop + 1
      val h2 = math.min(hop + 2, maxIter)
      hop = h2
      // the new level sizes ride the round's own checkpoint job: rows at
      // the newest hop are the next round's frontier — zero means the
      // eccentricity is reached (kills the old per-round count job AND the
      // odd-eccentricity extra round), and both counts feed the next
      // round's broadcast dispatch
      val obs = next.observe("bfs_new",
        count(when(col("hop") === h1, 1)).as("n1"),
        count(when(col("hop") === h2, 1)).as("n2"))
      dist = distChain.next(obs)
      val m = IterativeCompute.metric(obs, "bfs_new")
      prevN = m.getLong(0)
      lastN = if (h2 > h1) m.getLong(1) else m.getLong(0)
      growing = lastN > 0
    }
    eP.unpersist(blocking = false)
    IterativeCompute.handoff(dist, distChain)
  }

  /** Driver BFS over a collected small (symmetrized, distinct) edge list —
    * the exact semantics of the distributed rounds (min hop per reachable
    * node, hop 0 = source, hops bounded by maxIter), minus all per-round
    * scheduling floors. Allocation-flat like
    * [[DedupClusters.componentsLocal]]: sorted-id binary search plus a CSR
    * adjacency over primitive arrays.
    */
  private def bfsLocal(edges: DataFrame, src0: Long, maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val n = es.length
    val all = new Array[Long](2 * n)
    var i = 0
    while (i < n) { all(2 * i) = es(i)._1; all(2 * i + 1) = es(i)._2; i += 1 }
    java.util.Arrays.sort(all)
    var m = 0
    i = 0
    while (i < all.length) {
      if (m == 0 || all(i) != all(m - 1)) { all(m) = all(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, m)
    def idx(x: Long): Int = java.util.Arrays.binarySearch(ids, x)
    // CSR over the already-symmetrized rows: degree count, offsets, fill
    val off = new Array[Int](m + 1)
    i = 0
    while (i < n) { off(idx(es(i)._1) + 1) += 1; i += 1 }
    i = 1
    while (i <= m) { off(i) += off(i - 1); i += 1 }
    val nbr = new Array[Int](n)
    val fill = java.util.Arrays.copyOf(off, m)
    i = 0
    while (i < n) {
      val u = idx(es(i)._1)
      nbr(fill(u)) = idx(es(i)._2); fill(u) += 1
      i += 1
    }
    val hop = Array.fill(m)(-1)
    val queue = new Array[Int](m)
    var qh = 0
    var qt = 0
    val s = idx(src0)
    if (s >= 0) { hop(s) = 0; queue(qt) = s; qt += 1 }
    while (qh < qt) {
      val u = queue(qh); qh += 1
      if (hop(u) < maxIter) {
        var j = off(u)
        while (j < off(u + 1)) {
          val v = nbr(j)
          if (hop(v) < 0) { hop(v) = hop(u) + 1; queue(qt) = v; qt += 1 }
          j += 1
        }
      }
    }
    // a source absent from the edge set still reports itself at hop 0
    // (the distributed rounds seed dist with (src0, 0) unconditionally)
    val rows = (0 until m).collect { case j if hop(j) >= 0 => (ids(j), hop(j).toLong) }
    val withSrc = if (s >= 0) rows else (src0, 0L) +: rows
    spark.createDataset(withSrc).toDF("node", "hop")
  }

  def pagerank(edges: DataFrame, damping: Double = 0.85,
               maxIter: Int = 30, tol: Double = 1e-7): DataFrame =
    pagerankWithRounds(edges, damping, maxIter, tol)._1

  /** [[pagerank]] plus the number of rounds actually run — the observable
    * for the convergence-based early halt (a fast-mixing graph stops well
    * before maxIter; tol = 0 degrades to the fixed-round form).
    *
    * Picking (maxIter, tol): the L1 delta contracts by ~`damping` per
    * round, so rounds-to-tol ≈ log(tol/δ₀)/log(damping) — at d = 0.85,
    * tol = 1e-3 needs ~35 rounds and 1e-7 needs ~90; residual error after
    * the stop is bounded by tol·d/(1-d). The defaults (30, 1e-7) therefore
    * act as a fixed-round bound on slow-mixing graphs; pass an explicit
    * tol matched to the downstream use (sampling weights rarely need
    * better than 1e-3) to get the early halt.
    */
  private[ops] def pagerankWithRounds(edges: DataFrame, damping: Double = 0.85,
               maxIter: Int = 30, tol: Double = 1e-7): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val chain = new CheckpointChain(spark)

    val e = edges.select(col("src").cast("long"), col("dst").cast("long")).distinct()
    // one materialized pass: every edge carries its source's 1/out-degree so
    // iterations never re-join degrees
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out"))
    val wEdges = chain.next(
      e.join(outDeg, "src").select(col("src"), col("dst"),
        (lit(1.0) / col("out")).as("w")))

    // r20 job-count discipline (guide §1.2): the rank frame carries a
    // per-node `dang` flag (no out-edges), computed ONCE here — so the
    // dangling mass, the L1 delta, and the node count all ride their
    // round's own checkpoint job as observed metrics. The old shape paid
    // THREE fixed-floor jobs per round (dangling anti-join aggregate,
    // checkpoint, delta aggregate); this is ONE.
    val srcSet = wEdges.select(col("src").as("node")).distinct()
    val nodesObs = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(srcSet.withColumn("has_out", lit(1)), Seq("node"), "left")
      .select(col("node"), col("has_out").isNull.as("dang"))
      .observe("pr_n", count(lit(1)).as("n"))
    val nodes = chain.next(nodesObs)
    val n = IterativeCompute.metric(nodesObs, "pr_n").getLong(0)

    val rankChain = new CheckpointChain(spark)
    def massOf(row: org.apache.spark.sql.Row, i: Int): Double =
      if (row.isNullAt(i)) 0.0 else row.getDouble(i)
    val ranks0 = nodes.withColumn("pr", lit(1.0 / n))
      .observe("pr_m0", sum(when(col("dang"), col("pr"))).as("dm"))
    var ranks = rankChain.next(ranks0)
    // rank mass on dangling nodes (no out-edges) — redistributed uniformly
    var dangling = massOf(IterativeCompute.metric(ranks0, "pr_m0"), 0)
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= tol) {
      val contribs = wEdges
        .join(ranks.select(col("node").as("src"), col("pr")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("w")).as("contrib"))
      val stepped = ranks.select(col("node"), col("pr").as("old"), col("dang"))
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("dang"), col("old"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) + lit(dangling / n)))
            .as("pr"))
        .observe("pr_m",
          sum(abs(col("pr") - col("old"))).as("delta"),
          sum(when(col("dang"), col("pr"))).as("dm"))
        .select(col("node"), col("pr"), col("dang"))
      ranks = rankChain.next(stepped)
      val m = IterativeCompute.metric(stepped, "pr_m")
      delta = massOf(m, 0)
      dangling = massOf(m, 1)
      iter += 1
    }
    (IterativeCompute.handoff(ranks.select(col("node"), col("pr").as("pagerank")),
      rankChain, chain), iter)
  }

  /** k-core decomposition over an undirected edge list — the fourth
    * iterative-compute member. Core number of a node = the largest k such
    * that it survives in a subgraph where every node has degree >= k. In
    * the near-dup graph this separates DENSE duplication families (high
    * core — every member similar to many members, the template case) from
    * stringy drift chains (core 1-2) more robustly than triangle counts:
    * a hub with many degree-1 neighbors has high degree and many wedges
    * but core 1 neighbors, and peeling discounts it automatically.
    *
    * Algorithm: increasing-k cascade peeling. For k = 2, 3, ...: repeat
    * {remove every node whose CURRENT degree < k} until stable; nodes
    * removed while peeling toward the k-core have core number k−1. The
    * graph is empty when k exceeds the degeneracy. Deterministic — the
    * removal set per round is degree-defined, no ordering choices.
    *
    * Scale shape (round-27 DELTA-DEGREE rewrite — the r26 sf100
    * measurement pinned the old per-round degree re-aggregation + two
    * full-|edges| anti-joins as ~17.8×/decade real cost growth,
    * BASELINE.md "Third decade CLOSED"): degrees are MAINTAINED, not
    * recomputed — deg_k(v) = deg_{k-1}(v) − |edges v→removed_{k-1}|,
    * where removed_{k-1} is the small victim set of the previous round.
    * Each round scans the persisted edge frame once, hash-probing the
    * BROADCAST victim set (no edge shuffle; a victim wave past the
    * 4M-node broadcast cap degrades to a plain shuffle join), shuffles
    * only the matched rows (map-side combine, ≤ Σdeg(victims)), and
    * left-joins the node-sized delta into the survivor frame. Edges
    * incident to earlier victims may linger in the frame — they can
    * never probe-match (victims are always current survivors) — and are
    * COMPACTED away by one semi-join pass whenever the live degree mass
    * (Σdeg of survivors, free from the same aggregate that counts them)
    * falls under half the materialized frame's rows, so total compaction
    * work telescopes to O(|E|). Victim counts are driver scalars (the
    * frontier-size pattern); per-round lineage cuts via
    * [[IterativeCompute.CheckpointChain]], zero retained blocks after
    * handoff. Rounds are bounded by the degeneracy (small on real
    * web/dedup graphs) times cascade depth.
    *
    * Not oracle-comparable (unbounded iteration); GraphOpsSpec verifies
    * against a driver-side sequential peel on crafted and random graphs.
    *
    * @return (node, core) for every node in the edge list
    */
  def kcore(edges: DataFrame, maxK: Int = 1 << 20, maxRounds: Int = 100000): DataFrame = {
    val spark = edges.sparkSession
    val chain = new CheckpointChain(spark)
    val resChain = new CheckpointChain(spark)
    val dir = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    // symmetrized: each undirected edge present in both orientations, so
    // degree(v) = row count with src = v
    var g = chain.next(
      dir.union(dir.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    // the maintained survivor frame carries (node, CURRENT degree); a node
    // whose neighbors are all removed decrements to degree 0 and peels
    // like any other sub-k-degree node (its core is k−1) — the explicit
    // frame keeps it from vanishing unassigned
    val nodeChain = new CheckpointChain(spark)
    // survivor count, live degree mass (= directed edge rows of the
    // survivor-induced subgraph, since the maintained degrees are exact)
    // and the MINIMUM surviving degree all ride each survivor-frame
    // checkpoint as observed metrics (r20, guide §1.2) — the old
    // per-round stats aggregate job drops, and min(deg) lets k jump
    // straight past victimless values instead of paying one count job
    // per barren k
    def statsObs(df: DataFrame): DataFrame = df.observe("kc_stats",
      count(lit(1)).as("n"), sum(col("deg")).as("mass"), min(col("deg")).as("mn"))
    def readStats(df: DataFrame): (Long, Long, Long) = {
      val r = IterativeCompute.metric(df, "kc_stats")
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) Long.MaxValue else r.getLong(2))
    }
    val nodes0 = statsObs(
      g.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    var nodes = nodeChain.next(nodes0)
    var result = resChain.next(
      nodes.filter(lit(false)).select(col("node"), lit(0L).as("core")))
    val bcastCap = 4L << 20
    var k = 2
    var (alive, liveMass, minDeg) = readStats(nodes0)
    var gMass = liveMass // rows in the materialized edge frame (incl. stale)
    var rounds = 0
    while (alive > 0 && k <= maxK && rounds < maxRounds) {
      rounds += 1
      if (minDeg >= k) {
        // no victims at any k' in [k, minDeg] — jump to the first k with
        // victims (identical peel order: the skipped rounds removed nothing)
        k = math.min(maxK.toLong + 1, minDeg + 1).toInt
      } else {
        val victims = nodes.filter(col("deg") < k)
        val nv = victims.count() // broadcast-cap decision; nonzero by minDeg < k
        result = resChain.next(result.union(
          victims.select(col("node"), lit(k.toLong - 1).as("core"))))
        val removed = victims.select(col("node").as("dst"))
        val probe = if (nv <= bcastCap) broadcast(removed) else removed
        val delta = g.join(probe, Seq("dst"))
          .groupBy(col("src").as("node")).agg(count(lit(1)).as("dd"))
        val nextNodes = statsObs(
          nodes.filter(col("deg") >= k).join(delta, Seq("node"), "left")
            .select(col("node"),
              (col("deg") - coalesce(col("dd"), lit(0L))).as("deg")))
        nodes = nodeChain.next(nextNodes)
        val s = readStats(nextNodes)
        alive = s._1; liveMass = s._2; minDeg = s._3
        if (alive > 0 && liveMass < gMass / 2) {
          val nn = nodes.select(col("node"))
          g = chain.next(
            g.join(nn.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
              .join(nn.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi"))
          gMass = liveMass
        }
      }
    }
    IterativeCompute.handoff(result, resChain, nodeChain, chain)
  }

  /** Borůvka minimum spanning forest over a weighted undirected edge list
    * — the fifth iterative-compute member. In a dedup pipeline the MST of
    * the near-dup graph (weight = hamming / 1 − similarity) is the
    * cluster BACKBONE: which members are closest inside a family, and
    * which single cut splits a family that banding over-merged — the
    * question components/kcore (membership/density) cannot answer.
    *
    * Determinism: edge weights are totally ordered by (w, a, b) — the
    * classic distinct-weights trick — so the MSF is UNIQUE and every
    * engine/partitioning/retry computes the same edge set (ties in w
    * cannot produce two valid answers).
    *
    * Per round (Borůvka): every component picks its minimum outgoing
    * edge under the total order (ONE map-side-combined min-struct
    * aggregate over edges tagged with endpoint components), the picked
    * edges join the forest, and the merge graph — component-sized, it
    * HALVES per round — collapses through the shared
    * [[DedupClusters.components]] kernel; surviving labels relabel via
    * one join. Rounds ≤ log₂(n); lineage cut per round, zero retained
    * blocks. Not oracle-comparable (nested unbounded iteration);
    * GraphOpsSpec verifies edge-set equality against driver Kruskal
    * under the same total order.
    *
    * @param edges (src, dst, w) undirected; parallel edges collapse to
    *              their minimum weight, self-loops drop
    * @return (a, b, w) rows of the minimum spanning forest, a < b
    */
  def boruvkaMst(edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    val spark = edges.sparkSession
    val chain = new CheckpointChain(spark)
    val compChain = new CheckpointChain(spark)
    val mstChain = new CheckpointChain(spark)
    val e0 = chain.next(edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"),
        col("w").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w")))
    var comp = compChain.next(
      e0.select(col("a").as("node")).union(e0.select(col("b").as("node")))
        .distinct().withColumn("comp", col("node")))
    var mst = mstChain.next(e0.filter(lit(false)))
    var rounds = 0
    var active = true
    while (active && rounds < maxRounds) {
      rounds += 1
      val tagged = e0
        .join(comp.select(col("node").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("node").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      // each endpoint component sees the edge; min under (w, a, b)
      val cand = tagged.select(col("ca").as("c"),
          struct(col("w"), col("a"), col("b"), col("cb").as("other")).as("pick"))
        .union(tagged.select(col("cb").as("c"),
          struct(col("w"), col("a"), col("b"), col("ca").as("other")).as("pick")))
      val sel = cand.groupBy(col("c")).agg(min(col("pick")).as("pick"))
        .select(col("c"), col("pick.a").as("a"), col("pick.b").as("b"),
          col("pick.w").as("w"), col("pick.other").as("other"))
      // the picked-edge count rides the forest checkpoint as an observed
      // metric on the selEdges branch of the union (r20): the separate
      // count() job per round drops; the final (empty) round pays one
      // no-op forest checkpoint instead
      val selEdges = sel.select(col("a"), col("b"), col("w")).distinct()
        .observe("mst_sel", count(lit(1)).as("n"))
      // read the metric through the UNION — the Dataset actually
      // materialized (the observe node lives on its selEdges branch)
      val unioned = mst.union(selEdges)
      mst = mstChain.next(unioned)
      val nSel = IterativeCompute.metric(unioned, "mst_sel").getLong(0)
      if (nSel == 0) active = false
      else {
        // merge graph is component-sized and halves per round
        val merged = DedupClusters.components(
          sel.select(col("c").as("doc_a"), col("other").as("doc_b")))
          .select(col("doc_id").as("oldc"), col("component").as("newc"))
        comp = compChain.next(
          comp.join(merged, comp("comp") === merged("oldc"), "left")
            .select(col("node"), coalesce(col("newc"), col("comp")).as("comp")))
      }
    }
    IterativeCompute.handoff(mst, mstChain, compChain, chain)
  }
}
