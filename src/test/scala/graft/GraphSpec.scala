package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.operators.Graph

class GraphSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val base = (1.0 - 0.85) * 1e6 // NOT exactly 150000 in IEEE

  private def ranks(edges: Seq[(Long, Long, Long)], iters: Int) =
    Graph.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("symmetric 2-cycle is the fixpoint: ranks stay at 1e6") {
    val out = ranks(Seq((1L, 2L, 1L), (2L, 1L, 1L)), 5)
    out shouldBe Map(1L -> 1000000L, 2L -> 1000000L)
  }

  test("dangling mass leaks: source decays to the base, sink follows") {
    val out = ranks(Seq((1L, 2L, 1L)), 2)
    val a1 = math.round(base) // no in-edges after iter 1
    out(1L) shouldBe a1
    out(2L) shouldBe math.round(base + 0.85 * math.round(a1.toDouble * 1.0))
  }

  test("weighted edges split contribution by w/out_w") {
    // a -> b (w=3), a -> c (w=1): b gets 0.75 of a's rank, c gets 0.25
    val out = ranks(Seq((1L, 2L, 3L), (1L, 3L, 1L)), 1)
    out(2L) shouldBe math.round(base + 0.85 * math.round(1000000.0 * 0.75))
    out(3L) shouldBe math.round(base + 0.85 * math.round(1000000.0 * 0.25))
    out(1L) shouldBe math.round(base)
  }

  test("zero iterations returns the uniform start; nodes = src union dst") {
    val out = ranks(Seq((1L, 2L, 1L), (3L, 2L, 1L)), 0)
    out shouldBe Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L)
  }

  test("partition-invariant") {
    val edges = (1L to 200L).map(i => (i, i * 7 % 200 + 1, i % 3 + 1))
    val df = edges.toDF("src", "dst", "w")
    val plain = Graph.pageRank(df, "src", "dst", "w", 4)
      .orderBy("node").collect().toSeq
    val repart = Graph.pageRank(df.repartition(8), "src", "dst", "w", 4)
      .orderBy("node").collect().toSeq
    plain shouldBe repart
  }

  test("rank mass is conserved up to damping leak on a closed graph") {
    // 3-cycle: total rank stays 3e6 (no dangling nodes, rounding only)
    val out = ranks(Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)), 5)
    out.values.sum shouldBe 3000000L +- 5L
  }

  test("triangleCounts == brute-force enumeration; direction, duplicates " +
       "and self-loops ignored; partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 1L),    // triangle
        (3L, 4L), (4L, 5L), (5L, 3L),                  // second triangle
        (2L, 1L), (1L, 2L), (6L, 6L), (5L, 6L)) ++     // dups/reverse/loop
      Seq.fill(200)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)))
    val df = edges.toDF("src", "dst")
    val got = Graph.triangleCounts(df, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force over the canonical undirected simple graph
    val und = edges.collect {
      case (a, b) if a != b => (math.min(a, b), math.max(a, b))
    }.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val expected = nodes.map { n =>
      n -> (for {
        a <- nodes; b <- nodes
        if a < b && a != n && b != n
        if und((math.min(n, a), math.max(n, a))) &&
          und((math.min(n, b), math.max(n, b))) && und((a, b))
      } yield 1).size.toLong
    }.filter(_._2 > 0).toMap
    got shouldBe expected
    val repart = Graph.triangleCounts(df.repartition(7), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    repart shouldBe expected
  }

  test("kCore: cascade peel reaches the fixpoint, core degrees are " +
      "in-core degrees, partition-invariant") {
    // K4 on {1,2,3,4} (a true 3-core) + a tail 4-5-6-7 + node 8
    // hanging off 5: the tail peels over MULTIPLE rounds (7 first,
    // then 6, then 5's pendant edges) — a depth-3 cascade.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L), (5L, 8L)).toDF("s", "d")
    val out = Graph.kCore(edges, "s", "d", k = 3, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    Graph.lastKCoreRounds.get() should be >= 3L
    // duplicate and reversed edges collapse before peeling
    val noisy = edges.union(edges.select($"d", $"s"))
    Graph.kCore(noisy, "s", "d", k = 3, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe out
    Graph.kCore(edges.repartition(7), "s", "d", k = 3, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe out
  }

  test("hits: star and bipartite fixpoints hit exact micro values, " +
      "duplicates/self-loops dropped, partition-invariant") {
    // star: 0 -> {1,2,3}. Center: pure hub; leaves: pure authorities.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 0L), (0L, 1L))
      .toDF("s", "d")
    val sOut = Graph.hits(star, "s", "d", iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    sOut(0L) shouldBe ((0L, 1000000L))          // auth 0, hub max
    Seq(1L, 2L, 3L).foreach(sOut(_) shouldBe ((1000000L, 0L)))
    // bipartite with an extra edge: hubs {1,2} -> auths {3,4}, 2 -> 5.
    // After round 1: a = (3:1e6, 4:1e6, 5:5e5); h-raw = (1:2e6,
    // 2:2.5e6) -> h = (1:8e5, 2:1e6). Round 2+ is the fixpoint ratio.
    val bi = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (2L, 5L))
      .toDF("s", "d")
    val bOut = Graph.hits(bi, "s", "d", iterations = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    bOut(3L)._1 shouldBe 1000000L
    bOut(4L)._1 shouldBe 1000000L
    bOut(5L)._1 shouldBe 500000L
    bOut(1L)._2 shouldBe 800000L
    bOut(2L)._2 shouldBe 1000000L
    val repart = Graph.hits(bi.repartition(7), "s", "d", iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    repart shouldBe Graph.hits(bi, "s", "d", iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("randomWalks: every hop follows a real edge, step 0 is the " +
      "start, sinks absorb, deterministic and partition-invariant, " +
      "salts decorrelate") {
    // 1 -> {2,3}; 2 -> {3,4}; 3 -> {1,4}; 4 is a sink.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 4L)).toDF("s", "d")
    val edgeSet = Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 4L))
    val starts = Seq(1L, 2L, 3L, 4L).toDF("n")
    def walks(df: org.apache.spark.sql.DataFrame, salt: String) =
      Graph.randomWalks(df, "s", "d", starts, "n", steps = 6, salt)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(1))) // start, step, node
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val out = walks(edges, "s1")
    // step 0 is the start node for every walk
    out.foreach { case (start, path) => path.head shouldBe start }
    // every consecutive hop is a real directed edge
    out.values.foreach { path =>
      path.sliding(2).foreach {
        case Seq(a, b) => edgeSet should contain ((a, b))
        case _         =>
      }
    }
    // node 4 is a sink: its walk is just the start position, and any
    // walk reaching 4 ends there (4 never appears mid-path)
    out(4L) shouldBe Seq(4L)
    out.values.foreach { p =>
      p.dropRight(1) should not contain 4L
    }
    walks(edges.repartition(7), "s1") shouldBe out
    // a different salt re-rolls at least one hop somewhere
    walks(edges, "s2") should not equal out
  }

  test("kCore: k=1 keeps every non-isolated node; an over-tight k " +
      "empties the graph without error") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    Graph.kCore(edges, "s", "d", k = 1, maxRounds = 5)
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L, 3L)
    Graph.kCore(edges, "s", "d", k = 5, maxRounds = 5).count() shouldBe 0L
  }

  test("bfsDistances: hand-computed hop distances, shortest path wins " +
      "over a longer route, hop budget truncates, multi-seed min, " +
      "unreachable and isolated-seed handling, partition-invariant") {
    // 1→2→3→4→5 chain plus shortcut 1→4; 9 seeds too; 7 unreachable;
    // directed: 5→1 back-edge must not give 5 dist via reverse
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (9L, 3L), (6L, 7L)).toDF("s", "d")
    val seeds = Seq(1L, 9L).toDF("n")
    def run(e: org.apache.spark.sql.DataFrame) =
      Graph.bfsDistances(e, "s", "d", seeds, "n", rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = run(edges)
    // dist: 1=0, 9=0 (seed, even though 9 only has out-edges),
    // 2=1, 4=1 (shortcut), 3=1 (via 9), 5=2 (via 4); 6/7 unreachable
    out shouldBe Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 2L)
    // a 1-round budget truncates the reach
    Graph.bfsDistances(edges, "s", "d", seeds, "n", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
    run(edges.repartition(5)) shouldBe out
  }

  private def und(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("s", "d")

  test("labelPropagation: two triangles joined by a bridge settle " +
      "into their min-label communities; hand-traced sweeps") {
    // {1,2,3} and {4,5,6} triangles, bridge 3-4
    val e = und(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)))
    def run(edges: org.apache.spark.sql.DataFrame, r: Int) =
      Graph.labelPropagation(edges, "s", "d", r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // hand-traced synchronous rounds with (max count, min label):
    // r1: 1→2, 2→1, 3→1, 4→3, 5→4, 6→4
    run(e, 1) shouldBe Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 4L, 6L -> 4L)
    // r3: the triangles have converged, one community label each
    val out = run(e, 3)
    out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 3L, 6L -> 3L)
    run(e.repartition(7), 3) shouldBe out
  }

  test("labelPropagation: duplicate edge rows do not double-count " +
      "a neighbor's vote") {
    // node 3 sees {1, 2, 2}: with dup rows collapsed, 2's single
    // extra edge row must NOT outvote; counts are per distinct edge
    val e = und(Seq((3L, 1L), (3L, 2L), (3L, 2L)))
    val out = Graph.labelPropagation(e, "s", "d", 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    out(3L) shouldBe 1L // tie {1,2} → min label 1
  }

  test("ssspBounded: a lighter 2-hop path beats the direct heavy " +
      "edge once the sweep budget allows it") {
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L))
      .toDF("s", "d", "w")
    val seeds = Seq(1L).toDF("n")
    def run(edges: org.apache.spark.sql.DataFrame, r: Int) =
      Graph.ssspBounded(edges, "s", "d", "w", seeds, "n", r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    run(e, 1) shouldBe Map(1L -> 0L, 2L -> 10L, 3L -> 1L)
    val out = run(e, 2)
    out shouldBe Map(1L -> 0L, 2L -> 3L, 3L -> 1L)
    run(e.repartition(5), 2) shouldBe out
  }

  test("ssspBounded: duplicate (s,d) edges collapse to the min " +
      "weight; unreachable nodes are absent") {
    val e = Seq((1L, 2L, 7L), (1L, 2L, 4L), (5L, 6L, 1L))
      .toDF("s", "d", "w")
    val out = Graph.ssspBounded(e, "s", "d", "w",
        Seq(1L).toDF("n"), "n", 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    out shouldBe Map(1L -> 0L, 2L -> 4L)
  }

  test("linkPredictionRA: integer RA scores, existing edges excluded, " +
      "hub centers capped out, minCommon enforced") {
    // square 1-3-2-4-1 plus diagonal 3-4; hub 9 touches 1,2,5,6,7
    // (deg 5 > cap 4, so 9 never acts as a wedge CENTER — but it may
    // still be an ENDPOINT of a predicted pair)
    val e = Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L),
      (9L, 1L), (9L, 2L), (9L, 5L), (9L, 6L), (9L, 7L))
      .toDF("s", "d")
    val out = Graph.linkPredictionRA(e, "s", "d", maxHubDeg = 4,
        minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // (1,2): common {3,4} (deg 3 each; 9 capped out) → 2×(1e6 div 3)
    out(((1L, 2L))) shouldBe ((2L, 666666L))
    // (3,9)/(4,9): common {1,2} (deg 3 each) — the hub as endpoint
    out(((3L, 9L))) shouldBe ((2L, 666666L))
    out(((4L, 9L))) shouldBe ((2L, 666666L))
    // (3,4) share {1,2} but ARE an edge; (5,6) share only the hub
    out.keySet shouldBe Set((1L, 2L), (3L, 9L), (4L, 9L))
  }

  test("degreeAssortativity: star is maximally disassortative, " +
      "regular graph is NULL, matches brute force, partition-invariant") {
    // star 1 -> {2..6}: every edge joins deg 5 with deg 1 → r = -1
    val star = (2L to 6L).map(v => (1L, v)).toDF("s", "d")
    val so = Graph.degreeAssortativity(star, "s", "d").collect()(0)
    so.getLong(4) shouldBe -1000000L
    // triangle: regular, zero degree variance → NULL
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    Graph.degreeAssortativity(tri, "s", "d").collect()(0)
      .isNullAt(4) shouldBe true
    // brute force on a seeded random graph
    val rnd = new scala.util.Random(31L)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(25).toLong + 1L, rnd.nextInt(25).toLong + 1L))
      .filter { case (a, b) => a != b }
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val degm = (und.map(_._1) ++ und.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val m = und.size.toLong
    val sj = und.map { case (a, b) => degm(a) + degm(b) }.sum
    val sjj = und.map { case (a, b) =>
      degm(a) * degm(a) + degm(b) * degm(b) }.sum
    val sjk = und.map { case (a, b) => 2L * degm(a) * degm(b) }.sum
    val bigM = m.toDouble * 2.0
    val exp = math.round(1e6
      * ((bigM * sjk.toDouble - sj.toDouble * sj.toDouble)
        / (bigM * sjj.toDouble - sj.toDouble * sj.toDouble)))
    def run(df: org.apache.spark.sql.DataFrame) = {
      val r = Graph.degreeAssortativity(df, "s", "d").collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
    }
    val out = run(edges.toDF("s", "d").repartition(6))
    out shouldBe ((m, sj, sjj, sjk, exp))
    run(edges.toDF("s", "d").repartition(2)) shouldBe out
  }

  test("modularity: two triangles + bridge matches hand arithmetic; " +
      "random partition of a random graph scores near zero; " +
      "partition-invariant") {
    // communities {1,2,3} and {4,5,6}, one bridge 3-4; m = 7
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("s", "d")
    val lab = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 20L)).toDF("node", "label")
    val out = Graph.modularity(e, "s", "d", lab, "node", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // each community: e_in = 3, d_tot = 7 → 4·7·3 − 49 = 35;
    // q_c = 35/(4·49) = 0.17857... → 178571 micros
    out(10L) shouldBe ((3L, 3L, 7L, 35L, 178571L))
    out(20L) shouldBe ((3L, 3L, 7L, 35L, 178571L))

    val rnd = new scala.util.Random(5L)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(40).toLong + 1L, rnd.nextInt(40).toLong + 1L))
      .filter { case (a, b) => a != b }.toDF("s", "d")
    val nodes = (1L to 40L).map(n => (n, n % 4)).toDF("node", "label")
    val q = Graph.modularity(edges, "s", "d", nodes, "node", "label")
      .agg(sum(col("q_contrib_micro"))).head().getLong(0)
    // a label-blind partition of a random graph explains nothing
    math.abs(q) should be < 60000L
    Graph.modularity(edges.repartition(7), "s", "d",
        nodes.repartition(3), "node", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap shouldBe
      Graph.modularity(edges, "s", "d", nodes, "node", "label")
        .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
  }

  test("personalizedPageRank matches a brute-force trajectory replay; " +
      "seeds hold the mass; partition-invariant") {
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L),
      (2L, 4L, 1L), (4L, 5L, 1L), (5L, 4L, 2L))
    val seeds = Seq(1L)
    val iters = 4
    val d = 0.85
    // brute force with the operator's exact quantization
    val ow = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val base = (1.0 - d) * 1e6
    var r = nodes.map(n => n -> (if (seeds.contains(n)) 1000000L else 0L)).toMap
    for (_ <- 0 until iters) {
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (u, _, w) =>
        math.round(r(u).toDouble * (w.toDouble / ow(u).toDouble))
      }.sum).toMap
      r = nodes.map(n => n -> math.round(
        (if (seeds.contains(n)) base else 0.0)
          + d * in.getOrElse(n, 0L).toDouble)).toMap
    }
    val df = edges.toDF("s", "d", "w")
    val seedDf = seeds.toDF("id")
    def run(e: org.apache.spark.sql.DataFrame) =
      Graph.personalizedPageRank(e, "s", "d", "w", seedDf, "id", iters)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val out = run(df)
    out shouldBe r
    // the disconnected-from-seed pair 4<->5 only gets mass THROUGH 2
    out(1L) should be > out(5L)
    run(df.repartition(5)) shouldBe out
  }

  test("clusteringCoefficients: clique = 1.0, star center = 0, " +
      "leaf degree-1 = NULL; matches brute force on a random graph") {
    // triangle {1,2,3} + star center 4 -> {5,6}, leaf 7 - 5
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (4L, 6L),
      (7L, 5L)).toDF("s", "d")
    val out = Graph.clusteringCoefficients(e, "s", "d")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    out(1L) shouldBe ((2L, 1L, Some(1000000L)))
    out(4L) shouldBe ((2L, 0L, Some(0L)))
    out(7L) shouldBe ((1L, 0L, None))
    out(5L) shouldBe ((2L, 0L, Some(0L)))

    val rnd = new scala.util.Random(13L)
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(25).toLong + 1L, rnd.nextInt(25).toLong + 1L))
      .filter { case (a, b) => a != b }
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toSet
    val nbrs = (und.toSeq.map(p => p._1 -> p._2) ++
      und.toSeq.map(p => p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = nbrs.map { case (v, nb) =>
      val d = nb.size.toLong
      val tri = nb.toSeq.combinations(2)
        .count { case Seq(x, y) =>
          und.contains((math.min(x, y), math.max(x, y))) }.toLong
      v -> ((d, tri,
        if (d < 2) None else Some(2000000L * tri / (d * (d - 1)))))
    }
    Graph.clusteringCoefficients(edges.toDF("s", "d").repartition(7),
        "s", "d")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap shouldBe
      expected
  }

  test("linkPredictionRA equals brute force on a seeded random graph; " +
      "partition-invariant") {
    val rnd = new scala.util.Random(42L)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(30).toLong + 1L, rnd.nextInt(30).toLong + 1L))
      .filter { case (a, b) => a != b }
    val cap = 6
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val adjSet = und.toSet
    val nbrs = (und.map(p => p._1 -> p._2) ++ und.map(p => p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    val expected = (for {
      n1 <- nbrs.keys; n2 <- nbrs.keys
      if n1 < n2 && !adjSet.contains((n1, n2))
      common = (nbrs(n1) & nbrs(n2)).filter(w => deg(w) <= cap)
      if common.size >= 2
    } yield (n1, n2) -> ((common.size.toLong,
      common.toSeq.map(w => 1000000L / deg(w)).sum))).toMap
    val df = edges.toDF("s", "d")
    val out = Graph.linkPredictionRA(df, "s", "d", maxHubDeg = cap,
        minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    out shouldBe expected
    expected should not be empty
    Graph.linkPredictionRA(df.repartition(7), "s", "d", maxHubDeg = cap,
        minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap shouldBe out
  }
}
