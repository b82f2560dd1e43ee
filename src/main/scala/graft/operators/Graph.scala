package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph algorithms beyond the connected-components family
  * ([[Dedup.connectedComponentsAuto]]): weighted PageRank, the standard
  * authority weighting for web-domain quality scoring in crawl-corpus
  * curation (rank domains by the link graph, downweight low-authority
  * sources).
  *
  * Each iteration is ONE shuffle: `ranks ⋈ edges` on the source key
  * (broadcast when ranks fit, hash otherwise) followed by a `groupBy`
  * on the destination — map-side partial sums, nothing quadratic. The
  * edge table is normalized (per-source out-weight sums) once and
  * persisted; ranks stay `(node, rank)`-shaped so N iterations cost N
  * equi-join+agg rounds over a frame the size of the node set, the
  * textbook Pregel-on-DataFrames shape. Dangling mass (nodes with no
  * out-edges) is redistributed uniformly each round, keeping Σrank = 1
  * exactly up to float rounding — GraphSpec asserts conservation and
  * agreement with an independent driver-side reference. */
object Graph {

  /** Weighted PageRank over `edges` (src, dst, weight), `iters` rounds
    * at damping 0.85. Returns (node, rank); nodes = every src or dst.
    * Float determinism: per-run deterministic plans, but rank VALUES are
    * float sums over shuffled partitions — registered queries emit
    * ranks' ORDER, not the doubles (SURVEY §7 rule 5), or go rows-only. */
  def pageRank(edges: DataFrame, src: Column, dst: Column, weight: Column,
      iters: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val d = 0.85
    val spark = edges.sparkSession
    val e0 = edges.select(src.as("src"), dst.as("dst"),
      weight.cast("double").as("w"))
    // normalize out-weights once; persisted — every iteration re-reads
    // it. Sources whose weights sum to <= 0 (or to NULL via NULL
    // weights) are excluded from normalization — w/wout would be NULL
    // or nonsense and their mass would silently vanish from Σrank — and
    // instead fall through to the dangling term below (srcs is computed
    // from NORM, not e0, so a zero-out-weight node is "dangling" by
    // construction and its mass is redistributed, conserving Σrank = 1).
    val outW = e0.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      .filter(col("wout") > 0)
    val norm = Dedup.memoPersist(
      e0.join(outW, "src")
        .select(col("src"), col("dst"), (col("w") / col("wout")).as("p")))
    val nodes0 = Dedup.memoPersist(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    val srcs0 = Dedup.memoPersist(norm.select(col("src").as("node")).distinct())
    val n = nodes0.count()
    val m = norm.count()
    // the tiny caches materialize at the session shuffle width on the
    // no-AQE checkpoint path; every per-round scan of them would
    // schedule that many near-empty tasks. With the counts in hand,
    // read them through a width-derived coalesce instead (r15 — ONE
    // task reads all cached blocks at bench scale, full width at
    // production row counts)
    val nodes = Spread.shrinkTo(nodes0, n)
    val srcs = Spread.shrinkTo(srcs0, n)
    val normS = Spread.shrinkTo(norm, m)
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      // explicit width-derived repartition BEFORE the groupBy: the agg
      // reuses it (same key ⇒ no second exchange), so the round's
      // shuffle is ⌈m/256Ki⌉ wide instead of the session default (the
      // exchange carries one row per edge, so the edge count bounds it)
      // — the checkpoint/probe actions run on the no-AQE RDD path, where
      // nothing else coalesces these exchanges (r15)
      val contrib = Spread.shrinkKeyed(
        ranks.join(normS, col("node") === col("src")), m, col("dst"))
        .groupBy(col("dst")).agg(sum(col("rank") * col("p")).as("in_mass"))
      // dangling mass = Σ rank over out-edge-less nodes, folded in as a
      // 1-row broadcast — NO driver action inside the loop (an earlier
      // `first()`-per-round form cost a full job round-trip each
      // iteration)
      val dang = ranks.join(srcs, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dmass"))
      ranks = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit((1 - d) / n) + lit(d) *
            (coalesce(col("in_mass"), lit(0.0)) + col("dmass") / n))
            .as("rank"))
      // localCheckpoint (eager) truncates the logical plan each round —
      // without it every round re-analyzes the whole nested lineage and
      // planning cost is O(iters²) (measured 1.5 s/round of pure
      // planning on a 25-node graph); it also materializes ranks once
      // though the next round consumes it twice (contrib + dangling).
      // Non-reliable storage is the right trade for an iterative
      // refinement: executor loss costs a re-run, not correctness.
      // (r14: a checkpoint-every-2-rounds cadence was tried and
      // measured WORSE — 3.2 → 4.7 s at ~0 steal — because the three
      // consumers of the previous round's un-checkpointed frame re-run
      // its subtree inside one action; reverted.)
      // node-sized frame: checkpoint ⌈n/256Ki⌉ partitions, not the
      // session shuffle width (Spread.shrinkTo — 25-row bench ranks
      // otherwise materialize 32 near-empty partitions every round)
      ranks = Spread.shrinkTo(ranks, n).localCheckpoint()
    }
    ranks
  }

  /** **Fixed-point PageRank**: the same per-round shape as [[pageRank]]
    * — ranks ⋈ edges on the source key, groupBy destination, dangling
    * mass as a 1-row broadcast — but every quantity is an INTEGER
    * multiple of 1/scale (scale = 10¹²), and every division is integer
    * division. That
    * buys two things float ranks cannot have:
    *
    *  - a full DuckDB hash oracle: integer `+`/`*`/`div` are exact and
    *    associative, so shuffle order cannot perturb a single bit and
    *    the registered query hash-matches an unrolled-CTE SQL replay —
    *    the engine's own no-float-sums discipline, applied to the one
    *    operator that was rows-only;
    *  - a self-limiting iteration: the integer map reaches an EXACT
    *    fixed point (delta == 0), after which every further round is the
    *    identity — so stopping early is bitwise-equal to running all
    *    `iters` rounds (GraphSpec asserts it), and the oracle just runs
    *    the full unroll.
    *
    * Per round, node i receives Σ_in (rank_src · w) div wout — each
    * edge's term truncated independently, so the sum is order-free —
    * then rank' = (1000−dNum)·scale div (1000·n) + dNum·(in + dang div n)
    * div 1000, with damping dNum/1000 = 0.85. Truncation loses ≤ 1/scale
    * per edge per round: the registered 25-node ranks are exact to ~10⁻¹⁰,
    * while rank·w stays < 2⁶³ for edge weights up to ~9·10⁶ (require'd).
    * Weights must be positive integers (counts, cents — quantize
    * upstream); the early-stop probe is one bounded `limit(1)` job per
    * round over the node-sized frame. */
  def pageRankFixedPoint(edges: DataFrame, src: Column, dst: Column,
      weight: Column, iters: Int = 20, earlyStop: Boolean = true): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val (dNum, scale) = (850, 1000000000000L)
    val e0 = Dedup.memoPersist(
      edges.select(src.as("src"), dst.as("dst"), weight.cast("long").as("w")))
    // positive-weight guard (the float operator routes wout<=0 through
    // dangling; here a nonpositive or null weight means the caller
    // skipped quantization — fail loudly): one bounded 1-row probe.
    // rank can reach ~scale (all mass on one node), so rank*w must stay
    // under Long.MaxValue — the admissible weight ceiling is
    // Long.MaxValue/scale (~9.2e6).
    val wMax = Long.MaxValue / scale
    val bad = e0.filter(col("w").isNull || col("w") <= 0 ||
      col("w") > wMax).limit(1).collect()
    require(bad.isEmpty,
      s"pageRankFixedPoint needs integer weights in (0, $wMax] " +
        s"(Long.MaxValue/scale keeps rank*w exact); got ${bad.mkString}")
    val outW = e0.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val eN0 = Dedup.memoPersist(e0.join(outW, "src")
      .select(col("src"), col("dst"), col("w"), col("wout")))
    val nodes0 = Dedup.memoPersist(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    val srcs0 = Dedup.memoPersist(eN0.select(col("src").as("node")).distinct())
    val n = nodes0.count()
    val m = eN0.count()
    // narrow the per-round cache scans to a width derived from the
    // counted sizes — the [[pageRank]] cache-width note
    val nodes = Spread.shrinkTo(nodes0, n)
    val srcs = Spread.shrinkTo(srcs0, n)
    val eN = Spread.shrinkTo(eN0, m)
    var ranks = nodes.withColumn("rank", lit(scale / n))
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      round += 1
      // width-derived repartition shared by the groupBy — see
      // [[pageRank]]'s contrib note
      val contrib = Spread.shrinkKeyed(
        ranks.join(eN, col("node") === col("src")), m, col("dst"))
        .groupBy(col("dst"))
        .agg(sum(expr("(rank * w) div wout")).as("in_mass"))
      val dang = ranks.join(srcs, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dmass"))
      val stepped = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit((1000L - dNum) * scale / (1000L * n)) +
            expr(s"$dNum * (coalesce(in_mass, 0L) + dmass div $n) div 1000"))
            .as("rank"))
      if (earlyStop) {
        // ONE driver action per round: carry the previous rank through
        // the step, lazily localCheckpoint, and let the convergence
        // probe itself materialize the checkpoint — the old shape paid
        // an eager-checkpoint job AND a probe job per round. The carried
        // column is projected away below; rank arithmetic is untouched.
        val next = Spread.shrinkTo(stepped
          .join(ranks.withColumnRenamed("rank", "__prev"), "node"), n)
          .localCheckpoint(false)
        converged = next.filter(col("rank") =!= col("__prev"))
          .limit(1).collect().isEmpty
        ranks = next.select(col("node"), col("rank"))
      } else {
        // fixed-iteration path: eager checkpoint every round, exactly
        // like [[pageRank]] (r14: an every-other-round cadence measured
        // WORSE — the un-checkpointed round's subtree re-runs once per
        // consumer inside the next action; reverted)
        ranks = Spread.shrinkTo(stepped, n).localCheckpoint()
      }
    }
    ranks
  }

  /** **Triangle census** over an undirected edge set — (n_nodes,
    * n_edges, n_wedges, n_triangles) in one row. Triangle counting is
    * the clustering-coefficient primitive of graph-shaped corpus
    * diagnostics (link-farm detection in crawl graphs, community density
    * in co-occurrence graphs).
    *
    * The naive formulation is the cubic 3-way self-join; the engine runs
    * the **degree-oriented node-iterator** (Cohen 2009 / Suri &
    * Vassilvitskii WWW'11 — the MapReduce-era standard): each edge is
    * directed from its lower-(degree, id) endpoint to the higher, so
    * every wedge is generated at its lowest-order corner exactly once
    * and the wedge count is Σ outdeg·(outdeg−1)/2 with
    * outdeg ≤ O(√m) on any graph (arboricity bound) — the quadratic
    * hot-vertex blowup a star graph inflicts on the unoriented join
    * cannot happen. Wedges close through one more equi-join (left semi
    * against the oriented edges), all three stages plain hash-joins on
    * node keys. The oracle is the cubic definitional join over u<v<w —
    * orientation-free, so the gate proves the oriented plan counts
    * exactly the definition's triangles. All counts are exact integers.
    *
    * The orientation tie-break on ids makes the wedge count
    * deterministic; triangles are orientation-independent. */
  def triangleStats(edges: DataFrame, a: Column, b: Column): DataFrame = {
    val e = Dedup.memoPersist(
      edges.select(least(a, b).as("u"), greatest(a, b).as("v"))
        .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
        .distinct())
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient: src = lower (deg, id) endpoint; carry the dst's order key
    // so the wedge join can impose b < c without re-joining degrees
    val oriented = Dedup.memoPersist(
      e.join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
        .select(
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
            struct(col("u").as("s"), col("v").as("d"),
              struct(col("dv").as("deg"), col("v").as("id")).as("dord")))
            .otherwise(
              struct(col("v").as("s"), col("u").as("d"),
                struct(col("du").as("deg"), col("u").as("id")).as("dord")))
            .as("o"))
        .select(col("o.s").as("s"), col("o.d").as("d"), col("o.dord").as("dord")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.dord") < col("e2.dord"))
      .select(col("e1.d").as("wu"), col("e2.d").as("wv"))
    val closed = wedges
      .join(oriented.select(col("s").as("wu"), col("d").as("wv")),
        Seq("wu", "wv"), "left_semi")
    val nNodes = deg.agg(count(lit(1)).as("c"))
    val nEdges = e.agg(count(lit(1)).as("c"))
    val nWedges = wedges.agg(count(lit(1)).as("c"))
    val nTri = closed.agg(count(lit(1)).as("c"))
    nNodes.select(col("c").as("n_nodes"))
      .crossJoin(nEdges.select(col("c").as("n_edges")))
      .crossJoin(nWedges.select(col("c").as("n_wedges")))
      .crossJoin(nTri.select(col("c").as("n_triangles")))
  }

  /** **Weighted single-source shortest paths** (multi-source, positive
    * INTEGER weights) — the weighted sibling of [[bfsHops]]: exact
    * minimum path weight from the seed set, by distributed Bellman–Ford
    * relaxation. Per round ONE dist⋈edges equi-join proposes `d + w`
    * candidates, one min-aggregate folds them into the running
    * distances, `localCheckpoint` keeps the loop linear, and an exact
    * integer fixed point makes the early-stop probe sound (the
    * [[pageRankFixedPoint]] discipline — no float drift can un-converge
    * it). Positive weights bound shortest-path hop count by `maxDist`
    * (every hop costs ≥ 1), so `maxDist` caps both the distance AND the
    * rounds; candidates past it are pruned in-round, which is also what
    * keeps the recursive-CTE oracle's walk space finite. Exact integers
    * throughout → full hash oracle. */
  def ssspFixed(edges: DataFrame, a: Column, b: Column, weight: Column,
      seeds: DataFrame, seedCol: Column, maxDist: Long): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0 (got $maxDist)")
    // union BOTH orientations first, THEN filter: a guard on only the
    // forward branch would let a null-endpoint/self-loop edge slip in
    // through the reversed branch and emit a spurious null-keyed row
    val e = Dedup.memoPersist(
      edges.select(a.as("x"), b.as("y"), weight.cast("long").as("w"))
        .unionByName(edges.select(b.as("x"), a.as("y"),
          weight.cast("long").as("w")))
        .filter(col("x") =!= col("y") && col("x").isNotNull &&
          col("y").isNotNull)
        .groupBy(col("x"), col("y")).agg(min(col("w")).as("w")))
    val bad = e.filter(col("w") <= 0 || col("w").isNull).limit(1).collect()
    require(bad.isEmpty,
      s"ssspFixed needs positive integer weights; got ${bad.mkString}")
    // checkpoint distance frames at a width derived from the directed
    // edge count (Spread.shrinkTo), not the session shuffle width — the
    // count is one cheap job on the already-cached edge frame, repaid
    // every round. The bound is approximate: seeds outside the edge set
    // add distance rows beyond it, so it only steers partition rounding
    val eBound = e.count()
    // narrow the per-round edge-cache scans too (pageRank cache-width
    // note): the cache materializes at session width on the no-AQE path
    val eS = Spread.shrinkTo(e, eBound)
    var dist = Spread.shrinkTo(seeds.select(seedCol.as("node")).distinct()
      .withColumn("d", lit(0L)), eBound).localCheckpoint()
    var round = 0L
    var converged = false
    while (round < maxDist && !converged) {
      round += 1
      val cand = dist.join(eS, col("node") === col("x"))
        .select(col("y").as("node"), (col("d") + col("w")).as("d"),
          lit(null).cast("long").as("__old"))
      // the previous distance rides THROUGH the min-fold as a second
      // aggregate (dist holds one row per node, so min(__old) is that
      // row's d): the convergence probe then needs no join against the
      // previous frame, and — with a lazy localCheckpoint — the probe
      // is the round's ONE driver action, materializing the checkpoint
      // as it runs (r14; was eager checkpoint + probe join, 2 actions).
      // The emitted d = min over the same union, bitwise unchanged.
      val next0 = Spread.shrinkTo(
        dist.select(col("node"), col("d"), col("d").as("__old"))
          .unionByName(cand.filter(col("d") <= maxDist))
          .groupBy(col("node")).agg(min(col("d")).as("d"),
            min(col("__old")).as("__prev")), eBound)
        .localCheckpoint(false)
      converged = next0
        .filter(col("__prev").isNull || col("d") =!= col("__prev"))
        .limit(1).collect().isEmpty
      dist = next0.select(col("node"), col("d"))
    }
    dist
  }

  /** **Multi-source BFS hop distance** — (node, hops) for every node
    * reachable from `seeds` over the undirected `edges`, hops = exact
    * minimum hop count. The frontier loop is the Pregel shape: each
    * round ONE equi-join of the CURRENT FRONTIER (not the visited set)
    * against the edge list + an anti join against visited — work per
    * round ∝ frontier out-degree mass, rounds = eccentricity of the
    * seed set (at most 20), `localCheckpoint` per round keeps the plan linear
    * (the [[pageRankFixedPoint]] discipline). Hop counts are exact
    * integers under a deterministic expansion, so the recursive-CTE
    * oracle hash-matches. */
  def bfsHops(edges: DataFrame, a: Column, b: Column,
      seeds: DataFrame, seedCol: Column): DataFrame = {
    val maxHops = 20
    // undirected: keep both directions for the frontier join; filter
    // AFTER the union so dirty edges (null endpoint / self-loop) are
    // dropped from BOTH orientations, not just the forward one
    val e = Dedup.memoPersist(
      edges.select(a.as("x"), b.as("y"))
        .unionByName(edges.select(b.as("x"), a.as("y")))
        .filter(col("x") =!= col("y") && col("x").isNotNull && col("y").isNotNull)
        .distinct())
    // visited/frontier hold ≤ distinct-node ≤ edge-count rows — same
    // width-derivation as ssspFixed
    val eBound = e.count()
    val eS = Spread.shrinkTo(e, eBound)
    var visited = Spread.shrinkTo(seeds.select(seedCol.as("node")).distinct()
      .withColumn("hops", lit(0)), eBound).localCheckpoint()
    var frontier = visited
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      // eager checkpoints kept (r14: a lazy-checkpoint variant measured
      // WORSE, 2.0 → 2.9 s at ~0 steal — `visited` has two consumers
      // per hop and the deferred materialization re-ran its subtree)
      val next = Spread.shrinkTo(frontier.join(eS, col("node") === col("x"))
        .select(col("y").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hops", lit(hop)), eBound)
        .localCheckpoint()
      visited = Spread.shrinkTo(visited.unionByName(next), eBound)
        .localCheckpoint()
      frontier = next
    }
    visited
  }

  /** **k-core decomposition** (the peel): the maximal subgraph in which
    * every node has degree ≥ k, found by repeatedly deleting
    * under-degree nodes until a fixpoint — the standard density/
    * influence filter (Seidman 1983) and the cheap upper bound for
    * clique hunting (a k-clique lives inside the (k−1)-core). Each
    * round is one degree aggregate + one semi-join edge narrowing over
    * the CURRENT edge set — work shrinks monotonically, and rounds are
    * bounded by the degeneracy ordering's longest chain (maxIter is
    * the loud backstop, not a silent truncation: hitting it raises).
    * `localCheckpoint` cuts the per-round lineage like the other
    * iterative operators ([[bfsHops]], [[ssspFixed]]). Returns the
    * surviving nodes with their degree INSIDE the core (≥ k by the
    * fixpoint property). Dirty edges (nulls, self-loops) are dropped
    * from both orientations up front, the [[bfsHops]] guard. */
  def kCore(edges: DataFrame, a: Column, b: Column, k: Int,
      maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    // lazy localCheckpoint + count: the count is the action that
    // materializes the checkpoint, so cardinality costs no extra job
    // (r14 — the old eager-checkpoint-then-count shape paid two)
    var e = edges.select(a.as("x"), b.as("y"))
      .unionByName(edges.select(b.as("x"), a.as("y")))
      .filter(col("x") =!= col("y") && col("x").isNotNull && col("y").isNotNull)
      .distinct()
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    // carry the previous round's cardinality: e.count() would re-count
    // the SAME checkpointed frame narrowed.count() just measured,
    // doubling the per-round driver actions for nothing
    var prevCount = e.count()
    // the initial checkpoint materialized at session width — scan it
    // narrowed from here on (round checkpoints are width-shrunk before
    // materialization already)
    e = Spread.shrinkTo(e, prevCount)
    while (!converged && iter < maxIter) {
      iter += 1
      // keep is NOT checkpointed: its degree aggregate is an identical
      // subtree under both semi-joins, so the shuffle materializes once
      // (ReusedExchange) INSIDE the round's single job instead of
      // costing its own checkpoint job (r14 — 3 driver actions per
      // peel round down to 1)
      val keep = e.groupBy(col("x")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("x").as("node"))
      // prevCount bounds the monotonically-shrinking edge set: the
      // checkpoint keeps a width derived from it (Spread.shrinkTo)
      val narrowed = Spread.shrinkTo(e
        .join(keep.select(col("node").as("x")), Seq("x"), "left_semi")
        .join(keep.select(col("node").as("y")), Seq("y"), "left_semi"),
        prevCount)
        .localCheckpoint(false)
      val nowCount = narrowed.count()
      converged = nowCount == prevCount
      prevCount = nowCount
      e = narrowed
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIter rounds — raise maxIter")
    e.groupBy(col("x").as("node")).agg(count(lit(1)).as("core_degree"))
  }
}
