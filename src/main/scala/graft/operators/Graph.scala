package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph algorithms as relational fixpoints — the tier the
  * engine needs beyond [[Dedup.connectedComponents]]'s star
  * contractions: weighted PageRank over an edge list, the
  * link-analysis primitive for crawl-frontier prioritization and
  * source-authority weighting in a web-scale curation pipeline (the
  * reference has no graph surface; its corpus is 83 labels).
  *
  * Design for scale, in Spark terms: the graph lives as an EDGE LIST
  * DataFrame — no driver-side adjacency, no vertex index. Each
  * iteration is two keyed operations: ranks ⋈ edges on src (a hash
  * join that AQE can broadcast when the rank frame is small, or
  * shuffle co-partitioned when it isn't) and a groupBy(dst) sum whose
  * map-side partials bound the shuffle by the DISTINCT dst count per
  * task, not the edge count. Out-degree totals are computed ONCE
  * before the loop. Hot destinations (every page links to the home
  * page) are partial-aggregated before the exchange, the same
  * defense [[TextAnalysis]] uses for stopword skew.
  *
  * Determinism across engines and partitionings: ranks are held as
  * INTEGER MICROS and re-quantized every iteration — each edge
  * contribution `round(rank·w/out_w)` is a long, so the per-dst sum
  * is order-independent and a DuckDB oracle unrolling the same
  * iterations hash-matches exactly (raw double accumulation would
  * drift with partition order). Per-iteration rounding injects ≤ 0.5
  * micro per edge — noise far below the 10⁻⁶ rank scale the damping
  * contraction leaves after a handful of iterations.
  *
  * Iteration count is a parameter, not a convergence test — a
  * convergence test is a per-iteration driver round-trip and an
  * unbounded plan; production runs fix the budget (10-20 iterations)
  * and measure residual offline. The loop is unpinned: the plan
  * grows by 2 joins per iteration, and at the board's budgets that
  * linear plan beats eager per-round pins (tried r16 and reverted;
  * see [[pageRank]]) and keeps the operator lazy for plan inspection.
  *
  * Dangling mass (nodes with no outgoing edges) leaks rather than
  * redistributes — the simple-variant semantics, stated so the
  * oracle states it too.
  */
object Graph {

  /** Weighted PageRank, `iterations` rounds of
    * `r'(v) = round(base + d · Σ_{(u,v,w)} round(r(u)·w/out_w(u)))`
    * over micro-quantized ranks starting at 10⁶ per node. Nodes =
    * distinct src ∪ dst. Output: (node, rank_micro). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int, damping: Double = 0.85)
      : DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(weightCol).cast("long").as("__w"))
    val outW = e.groupBy(col("__src")).agg(sum(col("__w")).as("__ow"))
    // contribution RATIO per edge, fixed across iterations
    // NO eager pins on rated/nodes: tried r16 (the r15 hits e/nodes
    // pin) and REVERTED after measurement — q107 1.50 → 2.93 s at
    // sf0.1; with few iterations the two extra eager jobs cost more
    // than the per-round re-inline of the edge derivation saves
    val rated = e.join(outW, Seq("__src"))
      .withColumn("__ratio",
        col("__w").cast("double") / col("__ow").cast("double"))
      .select("__src", "__dst", "__ratio")
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
    val base = (1.0 - damping) * 1e6
    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    for (_ <- 0 until iterations) {
      val contribs = ranks
        .join(rated, ranks("node") === rated("__src"))
        .select(col("__dst").as("node"),
          round(col("rank_micro").cast("double") * col("__ratio"))
            .cast("long").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(lit(base) + lit(damping)
            * coalesce(col("__in"), lit(0L)).cast("double"))
            .cast("long").as("rank_micro"))
    }
    ranks
  }

  /** PERSONALIZED PageRank: [[pageRank]] with the restart mass
    * pinned to a SEED SET instead of spread uniformly — rank flows
    * outward from the seeds through the link structure, scoring
    * every node by its proximity to them. The "related to THESE"
    * primitive behind seed-expanded crawl frontiers, related-item
    * panels, and topic-conditioned source ranking (contrast
    * [[linkPredictionRA]], which scores 2-hop pairs; PPR integrates
    * over ALL paths with damped decay).
    *
    * Semantics: seeds start at 10⁶ micros and receive the
    * `(1−d)·10⁶` restart term each round; non-seeds start at 0 and
    * get restart 0 — the per-node-scale analog of [[pageRank]]'s
    * uniform base, so the two trajectories share every expression
    * shape and the same unrolled-CTE oracle discipline certifies
    * this one. Dangling mass leaks, as in the uniform variant.
    *
    * Scale shape per round: identical to [[pageRank]] (one edge
    * join + map-combined sum); the seed flag is one broadcast-sized
    * semi-join materialized once before the loop. Output: (node,
    * rank_micro) for every node. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, seeds: DataFrame,
      seedIdCol: String, iterations: Int, damping: Double = 0.85)
      : DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(weightCol).cast("long").as("__w"))
    val outW = e.groupBy(col("__src")).agg(sum(col("__w")).as("__ow"))
    // no eager pins — see [[pageRank]] (tried r16, reverted on
    // measurement)
    val rated = e.join(outW, Seq("__src"))
      .withColumn("__ratio",
        col("__w").cast("double") / col("__ow").cast("double"))
      .select("__src", "__dst", "__ratio")
    val seedSet = broadcast(
      seeds.select(col(seedIdCol).as("node")).distinct()
        .withColumn("__s", lit(true)))
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
      .join(seedSet, Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(false)).as("__seed"))
    val base = (1.0 - damping) * 1e6
    var ranks = nodes.withColumn("rank_micro",
      when(col("__seed"), lit(1000000L)).otherwise(lit(0L)))
    for (_ <- 0 until iterations) {
      val contribs = ranks
        .join(rated, ranks("node") === rated("__src"))
        .select(col("__dst").as("node"),
          round(col("rank_micro").cast("double") * col("__ratio"))
            .cast("long").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"), col("__seed"),
          round(when(col("__seed"), lit(base)).otherwise(lit(0.0))
            + lit(damping) * coalesce(col("__in"), lit(0L)).cast("double"))
            .cast("long").as("rank_micro"))
    }
    ranks.select(col("node"), col("rank_micro"))
  }

  /** HITS hubs-and-authorities (Kleinberg), `iterations` rounds of
    * the mutual-reinforcement fixpoint over a simple directed graph:
    * `a(v) = Σ_{u→v} h(u)`, `h(u) = Σ_{u→v} a(v)` — the second
    * link-analysis member beside [[pageRank]]: PageRank scores
    * endorsement FLOW, HITS separates curation pages (hubs: link to
    * many good sources) from content pages (authorities: linked by
    * many good hubs) — the crawl-seed-list / source-directory split
    * a web-scale pipeline wants.
    *
    * Determinism: scores are integer micros; each half-round
    * re-normalizes by the L∞ norm (divide by the round's MAX, a
    * single order-independent aggregate) instead of the textbook L2
    * — one multiply + one divide + one round per node in identical
    * IEEE shape on both engines, so an unrolled-CTE oracle
    * hash-matches the whole trajectory (the [[pageRank]]
    * discipline). The score RANKING is what HITS means; the L∞
    * scale fixes the leader at exactly 10⁶.
    *
    * Scale shape per half-round: one hash join of the edge list with
    * a node-score frame + a map-side-combined groupBy sum, plus a
    * 1-row max broadcast. Output: (node, auth_micro, hub_micro) for
    * every node of the graph. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // Eagerly pin the simple edge set and the node list: both are
    // referenced TWICE per half-round (join side + normalize), so an
    // unpinned 3-round board replays the caller's edge derivation
    // (q174: a window over lineitem) ~12x inside one plan — the
    // nnDescentGraph lineage discipline (measured 5.8 -> 3.2 s at
    // sf0.1; per-round checkpoints were ALSO tried and lost, 5.5 s —
    // the q257-raw counter-example). Content is deterministic; at
    // 100 TB this is the "materialize the edge list once" step every
    // link-analysis job has.
    val e = edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .filter(col("__src") =!= col("__dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
      .localCheckpoint(true)
    def normalized(raw: DataFrame, outCol: String): DataFrame = {
      val mx = raw.agg(max(col("__raw")).as("__mx"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(mx))
        .select(col("node"),
          when(col("__raw").isNull, lit(0L))
            .otherwise(round(col("__raw").cast("double") * lit(1000000.0)
              / col("__mx").cast("double")).cast("long"))
            .as(outCol))
    }
    var hubs = nodes.withColumn("hub_micro", lit(1000000L))
    var auths = nodes.withColumn("auth_micro", lit(0L))
    for (_ <- 0 until iterations) {
      val ar = e.join(hubs.select(col("node").as("__src"),
          col("hub_micro")), Seq("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("hub_micro")).as("__raw"))
      auths = normalized(ar, "auth_micro")
      val hr = e.join(auths.select(col("node").as("__dst"),
          col("auth_micro")), Seq("__dst"))
        .groupBy(col("__src").as("node"))
        .agg(sum(col("auth_micro")).as("__raw"))
      hubs = normalized(hr, "hub_micro")
    }
    auths.join(hubs, Seq("node"))
  }

  /** Per-node triangle counts over the undirected simple graph of
    * `edges` (direction/duplicates/self-loops dropped) — the classic
    * degree-ordered distributed algorithm: orient every edge from
    * its lower to its higher endpoint under the (degree, id) total
    * order, enumerate wedges as self-join on the SOURCE of oriented
    * edges, close them against the oriented edge set. Orientation
    * caps every node's out-degree at O(√m) on any graph, so wedge
    * fan-out is bounded even at power-law hubs — the difference
    * between a shuffle in O(m^1.5) and the naive Σdeg² blowup. Three
    * hash-join shuffles, no windows, each triangle found exactly
    * once. Returns (node, n_triangles) for nodes in ≥ 1 triangle. */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    // NO eager pins on und/deg/oriented (tried r16, REVERTED on
    // measurement): the lazy plan inlines the caller's edge
    // derivation ~8×, but it runs as ONE wide job that overlaps all
    // copies — three eager pin jobs serialized it instead (q165 flat
    // within noise, q214 — which pays these pins through
    // clusteringCoefficients — 1.65 → 2.9-3.7 s). The q254/q107/q177
    // lesson: pins only win when the duplicated subtree is expensive
    // relative to the serialized job overhead.
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("dg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"))
    val ov = oriented
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), Seq("v"))
    val e1 = ov.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = ov.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val closing = oriented.select(col("u").as("cu"), col("v").as("cv"))
    val tri = wedges.join(closing,
      col("x") === col("cu") && col("y") === col("cv"))
      .select(col("u").as("t1"), col("x").as("t2"), col("y").as("t3"))
    tri.select(explode(array(col("t1"), col("t2"), col("t3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Rounds the last [[kCore]] call took to converge (probe surface,
    * mirrors [[Dedup.lastCcRounds]]). */
  val lastKCoreRounds = new java.util.concurrent.atomic.AtomicLong(0)

  /** k-core subgraph by synchronous peeling: repeatedly delete every
    * node of degree < k (all at once) until a fixed point — the
    * degeneracy tier of graph curation: spam farms and boilerplate
    * link rings live in dense cores; the k-core is the standard
    * "dense interior" extraction (Seidman's coreness).
    *
    * Scale shape, per round: one degree aggregate (map-side combined,
    * shuffle bounded by the distinct-node count per task) and two
    * LEFT SEMI joins of the edge list against the surviving-node set
    * — no adjacency materialization, no driver-side graph. Each
    * round's lineage is cut with `localCheckpoint` (the
    * [[Dedup.connectedComponents]] discipline; reliable `checkpoint`
    * on a real cluster) and convergence is the edge COUNT alone —
    * peeling only deletes, so an unchanged count IS the fixed point;
    * one long per round of driver traffic.
    *
    * Synchronous peeling converges in at most as many rounds as the
    * peel DEPTH (the longest chain of "removing u drops v below k"),
    * typically a handful on real graphs; `maxRounds` bounds the
    * worst case. Output: (node, core_deg) for nodes of the k-core,
    * core_deg = degree within the surviving subgraph. An oracle
    * unrolling exactly `maxRounds` rounds matches: converged rounds
    * are no-ops on both engines. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 8): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    var prevN = -1L
    var n = e.count()
    var round = 0L
    while (round < maxRounds && n != prevN) {
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= k)
      e = e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
      prevN = n
      n = e.count()
      round += 1
    }
    lastKCoreRounds.set(round)
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
  }

  /** Multi-source BFS DISTANCES, fixed hop budget: the hop distance
    * from the nearest seed to every node reachable within `rounds`
    * hops along `src → dst` edges — reachability/blast-radius
    * analysis (distance from flagged spam domains, hops from a
    * compromised account), the last classic of the graph family
    * beside PageRank/HITS/CC/k-core/triangles/walks.
    *
    * FRONTIER-based: each round expands only the nodes discovered
    * in the previous round (one src-keyed hash join), then one
    * anti-join against the settled set — per-round work is
    * O(frontier-adjacency), not O(settled-state), which is what
    * keeps a 100 TB 4-hop neighborhood from rescanning the whole
    * reach every round. First discovery IS the minimum distance
    * (unweighted BFS invariant), so no min-aggregate over the
    * settled set is ever needed. `localCheckpoint` cuts the lineage
    * per round (the [[kCore]] discipline). Output: (node, dist),
    * seeds at dist 0. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .distinct().localCheckpoint()
    var settled = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = settled
    var r = 1
    while (r <= rounds) {
      val next = frontier.join(e, col("node") === col("__s"))
        .select(col("__d").as("node")).distinct()
        .join(settled.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(r.toLong))
        .localCheckpoint()
      // settled stays a LAZY union of the pinned frontiers: each
      // round's anti-join (and the final result) reads r pinned
      // frames instead of paying a second eager checkpoint job per
      // round — halves the per-round job count (guide §2.4; measured
      // r16)
      settled = settled.unionByName(next)
      frontier = next
      r += 1
    }
    settled
  }

  /** DETERMINISTIC random walks (the DeepWalk/node2vec corpus
    * generator, made replayable): one walk of `steps` hops from
    * every start node, where the hop taken at step `t` from node `v`
    * is neighbor index `md5(salt:start:t:v) mod deg(v)` over the
    * dst-sorted adjacency — hash-driven pseudo-randomness instead of
    * RNG state, so the walk corpus is partition-invariant, stable
    * under re-runs, and bit-replayable by an oracle engine (the
    * [[graft.operators.Curation.sampleHash]] rationale; a seeded RNG
    * would re-roll with the task layout). Including `start` in the
    * coordinate decorrelates walks that cross the same node;
    * including `t` lets a walk revisit a node without looping
    * forever on the same choice.
    *
    * Shape per hop: the frontier (one row per live walk) joins the
    * degree table then the (src, idx)-keyed adjacency — two hash
    * joins, no fan-out beyond one row per walk. The adjacency index
    * is a per-src window (partitioned, never global). Walks absorb
    * at sinks: a node with no out-edges ends its walk (inner join
    * drops it). Output: (start, step, node), step 0 = the start
    * itself. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      starts: DataFrame, startCol: String, steps: Int,
      salt: String): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    // NO eager pins (tried r16 — adj/deg/per-step frontier pins —
    // and REVERTED on measurement: q177 2.93 → 4.02 s; seven small
    // eager jobs serialized hops the lazy plan computed in one wide
    // job, and the per-hop window over the edge list is cheap enough
    // that the ≤2^4 re-inline never dominates at any measured SF)
    val e = edges.select(col(srcCol).cast("long").as("__src"),
      col(dstCol).cast("long").as("__dst")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src")).orderBy(col("__dst"))
    val adj = e.withColumn("__idx", row_number().over(w) - lit(1))
      .select(col("__src").as("__asrc"), col("__dst"), col("__idx"))
    val deg = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
      .select(col("__src").as("__dsrc"), col("__deg"))
    var frontier = starts
      .select(col(startCol).cast("long").as("start"))
      .distinct()
      .select(col("start"), col("start").as("node"),
        lit(0L).as("step"))
    var acc = frontier
    for (t <- 1 to steps) {
      val chosen = frontier
        .join(deg, col("node") === col("__dsrc"))
        .withColumn("__pick",
          pmod(Curation.sampleHash(
            concat_ws(":", col("start"), lit(t), col("node")), salt),
            col("__deg")))
      val nxt = chosen
        .join(adj, col("node") === col("__asrc")
          && col("__pick") === col("__idx"))
        .select(col("start"), col("__dst").as("node"),
          lit(t.toLong).as("step"))
      frontier = nxt
      acc = acc.unionAll(nxt)
    }
    acc
  }

  /** Synchronous LABEL PROPAGATION community detection, `rounds`
    * fixed iterations — the near-linear community pass (Raghavan et
    * al. 2007) a curation pipeline runs over a link/co-occurrence
    * graph to group mirror sites or topic clusters, sitting between
    * [[Dedup.connectedComponents]] (pure reachability) and
    * modularity methods (non-deterministic, driver-heavy).
    *
    * Every node starts labeled with its own id; each round EVERY
    * node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — the classic
    * async scan order (and RNG tie-break) is replaced by a
    * synchronous sweep with a total tie order, so the result is
    * partition-invariant and an oracle engine can replay every round
    * verbatim. Callers pass an undirected graph as a both-ways edge
    * list (the [[bfsDistances]] convention).
    *
    * Per-round shape: neighbor-label counts are ONE groupBy over the
    * joined edge list (map-side partials bound the exchange by
    * distinct (node,label) per task), then the argmax is the
    * two-step max-count ⋈ min-label aggregate — deliberately plain
    * aggregates, no window, no struct-ordering subtleties, so the
    * SQL replay is literal. Isolated nodes (no neighbors) keep their
    * label via the left join. `localCheckpoint` cuts per-round
    * lineage (the [[kCore]] discipline). Output: (node, label). */
  def labelPropagation(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__d")).distinct().localCheckpoint()
    var labels = e.select(col("__s").as("node"))
      .union(e.select(col("__d").as("node"))).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var r = 0
    while (r < rounds) {
      val counts = e.join(labels, col("__d") === col("node"))
        .groupBy(col("__s"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val best = counts.groupBy(col("__s"))
        .agg(max(col("__c")).as("__mc"))
      val next = counts
        .join(best, Seq("__s"))
        .filter(col("__c") === col("__mc"))
        .groupBy(col("__s"))
        .agg(min(col("label")).as("__nl"))
        .select(col("__s").as("node"), col("__nl"))
      labels = labels.join(next, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__nl"), col("label")).as("label"))
        .localCheckpoint()
      r += 1
    }
    labels
  }

  /** Hop-BOUNDED weighted shortest paths (Bellman-Ford, `rounds`
    * relaxation sweeps): the minimum total edge weight from the
    * nearest seed to every node reachable within `rounds` hops —
    * the weighted upgrade of [[bfsDistances]] (cheapest supply
    * chain, lowest-latency route, trust-weighted blast radius).
    * Weights are caller-supplied LONGS (micro-quantize upstream if
    * fractional) so every candidate distance is an exact integer sum
    * and the per-node min is order-independent — an oracle engine
    * unrolling the same sweeps hash-matches exactly.
    *
    * Bellman-Ford, not Dijkstra, is the distributed choice: no
    * priority queue, each sweep is one dist ⋈ edges hash join plus
    * one groupBy(node) min whose map-side partials bound the
    * exchange by distinct dst per task. After round r every
    * ≤ r-hop shortest path is final (standard BF invariant), so a
    * fixed budget gives exact distances for the r-hop neighborhood
    * — same bounded-frontier contract as [[bfsDistances]], and the
    * same reason no convergence test (a driver round-trip per sweep)
    * appears. Unlike BFS the frontier cannot shrink to
    * newly-discovered nodes only: a later sweep may IMPROVE an
    * already-settled distance through a longer-but-lighter path, so
    * each sweep relaxes the full dist table (edge-linear, the
    * correct price for weighted exactness). Negative weights are
    * rejected — distances must be monotone for the bounded sweep to
    * mean "shortest within r hops". Output: (node, dist), seeds at
    * 0. */
  def ssspBounded(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"),
        col(weightCol).cast("long").as("__w"))
      .groupBy(col("__s"), col("__d"))
      .agg(min(col("__w")).as("__w"))
      .localCheckpoint()
    var dist = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("dist", lit(0L)).localCheckpoint()
    var r = 0
    while (r < rounds) {
      val relaxed = dist.join(e, col("node") === col("__s"))
        .select(col("__d").as("node"),
          (col("dist") + col("__w")).as("dist"))
      val next = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      // pin every SECOND sweep and never the last: two relaxations
      // per eager job halves the per-round job overhead, and the
      // caller's own action computes the final (lazy) sweep — the
      // q174 per-round-vs-once A/B discipline, measured r16. Lineage
      // between pins is ≤ 2 joins + 2 aggregates over pinned frames.
      dist = if (r % 2 == 1 && r + 1 < rounds) next.localCheckpoint()
        else next
      r += 1
    }
    dist
  }

  /** DEGREE ASSORTATIVITY of the undirected simple graph (Newman):
    * the Pearson correlation of endpoint degrees over all
    * half-edges — positive = hubs attach to hubs (social cores,
    * citation elites), negative = hub-and-spoke (the web, spam
    * farms, star boilerplate). One scalar that tells a graph
    * pipeline which topology regime its caps and salts must expect.
    *
    * By half-edge symmetry both marginals coincide, so r =
    * (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²) with Σj = Σ_e(dᵤ+dᵥ),
    * Σj² = Σ_e(dᵤ²+dᵥ²), Σjk = 2Σ_e dᵤdᵥ, M = 2m — four exact
    * BIGINT sums from ONE pass over the degree-joined edge list;
    * the three cross-products run in the final double tree (the
    * sums stay < 2⁶³; their products need not), identical in both
    * engines. Output: one row (m, sum_j, sum_jj, sum_jk, r_micro),
    * NULL on a degree-regular graph (zero variance). */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // NO pins (tried r16 — und + deg — and REVERTED on a decisive
    // same-session A/B: 2.48 s pinned vs 1.99 s unpinned at sf0.1;
    // the one-pass degree-joined aggregate overlaps the re-derived
    // window copies in one wide job, the triangleCounts lesson)
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val j = und
      .join(deg.select(col("node").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("dg").as("db")), Seq("b"))
    def d(c: Column): Column = c.cast("double")
    val agg = j.agg(count(lit(1)).as("m"),
      sum(col("da") + col("db")).as("sum_j"),
      sum(col("da") * col("da") + col("db") * col("db")).as("sum_jj"),
      sum(lit(2L) * col("da") * col("db")).as("sum_jk"))
    val bigM = d(col("m")) * lit(2.0)
    val num = bigM * d(col("sum_jk")) - d(col("sum_j")) * d(col("sum_j"))
    val den = bigM * d(col("sum_jj")) - d(col("sum_j")) * d(col("sum_j"))
    agg.select(col("m"), col("sum_j"), col("sum_jj"), col("sum_jk"),
      when(den === lit(0.0), lit(null))
        .otherwise(round(lit(1000000.0) * (num / den)).cast("long"))
        .as("r_micro"))
  }

  /** MODULARITY of a node partition over the undirected simple
    * graph: per community c, the Newman-Girvan contribution
    * Q_c = e_c/m − (d_c/2m)² — how much denser the community is
    * than the degree-preserving random expectation. The quality
    * audit for ANY clustering over a graph ([[labelPropagation]]
    * communities, CC clusters, k-core tiers): ΣQ_c near 0 means the
    * partition explains nothing; the per-community rows localize
    * which "communities" are real.
    *
    * Exactness: Q_c·4m² = 4m·e_c − d_c² is exact BIGINT (bounded by
    * 4m², fine to ~10⁹ edges), emitted as `contrib_scaled` with the
    * micro ratio as ONE fixed double expression. Shape: one
    * canonical-edge distinct, one degree aggregate, two node-keyed
    * label joins, the edge count riding a 1-row broadcast. Output:
    * (label, n_nodes, e_in, d_tot, contrib_scaled, q_contrib_micro)
    * per community; ΣQ = Σ q_contrib_micro / 10⁶. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    // pin: `und` feeds the edge count, the in-community join and the
    // degree union (×2) — four references to the caller's edge
    // derivation (guide §2.4, measured r16)
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val m1 = und.agg(count(lit(1)).as("m"))
    val lab = labels.select(col(nodeCol).as("node"),
      col(labelCol).as("__l"))
    val eIn = und
      .join(lab.select(col("node").as("a"), col("__l").as("__la")),
        Seq("a"))
      .join(lab.select(col("node").as("b"), col("__l").as("__lb")),
        Seq("b"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("e_in"))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__dg"))
    val dTot = deg.join(lab, Seq("node"))
      .groupBy(col("__l").as("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("__dg")).as("d_tot"))
    val contrib = lit(4L) * col("m") * coalesce(col("e_in"), lit(0L)) -
      col("d_tot") * col("d_tot")
    dTot.join(eIn, Seq("label"), "left")
      .crossJoin(broadcast(m1))
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"),
        contrib.as("contrib_scaled"),
        round(lit(1000000.0) * contrib.cast("double")
          / (lit(4.0) * (col("m") * col("m")).cast("double")))
          .cast("long").as("q_contrib_micro"))
  }

  /** LINK PREDICTION by the resource-allocation index (Zhou, Lü &
    * Zhang 2009): for every non-adjacent pair (n1, n2) score
    * Σ_{w ∈ N(n1) ∩ N(n2)} 1/deg(w) — the "which edges are missing"
    * question behind related-item suggestion, record-linkage
    * candidate generation, and knowledge-graph completion. RA is
    * chosen over Adamic-Adar's 1/log deg(w) deliberately: its terms
    * are integer-exact (`1000000 div deg`), so the score replays
    * bit-for-bit in any engine — no transcendental whose last ulp
    * differs between libm implementations.
    *
    * Scale shape: the all-pairs explosion is avoided because
    * candidates are enumerated THROUGH their common neighbors — one
    * self-join of the adjacency list keyed on the wedge center w,
    * Σ deg(w)² rows. `maxHubDeg` excludes high-degree centers from
    * wedge formation (the [[graft.operators.Banding]] hot-bucket cap
    * in graph form), bounding the fan-out at maxHubDeg·2|E| rows —
    * linear in edges with a chosen constant. A hub every node
    * touches predicts every pair anyway (RA term → 0); dropping it
    * is the standard recall-for-mass trade, stated not silent.
    * `minCommon` keeps the emission to multi-witness pairs.
    *
    * Output: (n1, n2, n_common, ra_micro) per non-adjacent pair with
    * ≥ minCommon capped common neighbors, n1 < n2. */
  /** Per-node LOCAL CLUSTERING COEFFICIENT: lcc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)) — how close each node's neighborhood is to
    * a clique. The node-level texture readout beside
    * [[triangleCounts]]' raw counts: high-lcc nodes sit in tight
    * communities (link rings, template families), low-lcc
    * high-degree nodes are bridges/hubs — the standard
    * spam-farm-vs-connector discriminator.
    *
    * Exactness: lcc is emitted as ⌊2·10⁶·tri / (deg·(deg−1))⌋ —
    * pure BIGINT division, replayable verbatim. Scale shape =
    * [[triangleCounts]] (degree-ordered wedge join, Σ min-degree
    * bounded) plus one degree aggregate and a node-keyed left join;
    * no new quadratic term. Output: (node, degree, n_triangles,
    * lcc_micro) for every node, lcc_micro NULL when degree < 2. */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // NO pin on this local `und` (tried r16 together with the
    // triangleCounts pins, reverted on measurement: q214
    // 1.65 → 2.9-3.7 s — eager derivation jobs serialized work the
    // lazy union overlapped; see the note on [[triangleCounts]])
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(edges, srcCol, dstCol), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_micro",
        when(col("degree") < 2L, lit(null))
          .otherwise(expr(
            "(2000000 * n_triangles) div (degree * (degree - 1))")))
  }

  def linkPredictionRA(edges: DataFrame, srcCol: String, dstCol: String,
      maxHubDeg: Int, minCommon: Long): DataFrame = {
    require(maxHubDeg >= 2, "maxHubDeg must be >= 2")
    require(minCommon >= 1L, "minCommon must be >= 1")
    // pin the repeated subtrees (guide §2.4, measured r16): `und` is
    // referenced FIVE times (degree union ×2, neighbor union ×2, the
    // final anti-join) and `nbd` twice (both sides of the wedge
    // self-join) — unpinned, each reference inlines the caller's
    // edge-derivation window
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val nb = und.select(col("a").as("w"), col("b").as("n"))
      .unionAll(und.select(col("b").as("w"), col("a").as("n")))
    val nbd = nb.join(
      deg.filter(col("dg") <= maxHubDeg)
        .select(col("node").as("w"), col("dg")), Seq("w"))
      .localCheckpoint()
    val pairs = nbd.select(col("w"), col("n").as("n1"), col("dg"))
      .join(nbd.select(col("w"), col("n").as("n2")), Seq("w"))
      .filter(col("n1") < col("n2"))
      .groupBy(col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div dg")).as("ra_micro"))
    pairs
      .join(und, pairs("n1") === und("a") && pairs("n2") === und("b"),
        "left_anti")
      .filter(col("n_common") >= minCommon)
  }
}
