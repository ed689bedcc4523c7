package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // two baskets: {1,2,3} (a triangle) and {3,4} (a pendant edge)
  private val items = Seq(
    (10L, 1L), (10L, 2L), (10L, 3L),
    (20L, 3L), (20L, 4L),
    (20L, 4L), // duplicate line: same item twice in one basket
    (30L, 5L)  // singleton basket: contributes nothing
  ).toDF("basket", "item")

  private def edges = Graph.coOccurrenceEdges(items, "basket", "item")

  test("coOccurrenceEdges: distinct u<v pairs; singleton baskets and duplicate lines contribute nothing") {
    val got = edges.as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
  }

  test("coOccurrenceEdges: the basket cap drops oversized baskets entirely") {
    val big = (1L to 5L).map(i => (99L, i)).toDF("basket", "item")
    assert(Graph.coOccurrenceEdges(big, "basket", "item", maxBasketItems = 4).isEmpty)
    assert(Graph.coOccurrenceEdges(big, "basket", "item", maxBasketItems = 5).count() == 10L)
  }

  test("coOccurrenceEdges: null basket/item rows are dropped, not joined") {
    val withNulls = items.unionByName(
      Seq((Option.empty[Long], Option(9L)), (Option(10L), Option.empty[Long]))
        .toDF("basket", "item"))
    val got = Graph.coOccurrenceEdges(withNulls, "basket", "item")
      .as[(Long, Long)].collect().toSet
    assert(got == edges.as[(Long, Long)].collect().toSet)
  }

  test("degrees: each endpoint counted over both directions") {
    val got = Graph.degrees(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("triangleCount: one triangle in the two-basket graph; zero in a path") {
    assert(Graph.triangleCount(edges).as[Long].head() == 1L)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    assert(Graph.triangleCount(path).as[Long].head() == 0L)
  }

  test("triangleCount: K4 has exactly 4 triangles (every wedge closes once)") {
    val k4 = (for { u <- 1L to 4L; v <- (u + 1) to 4L } yield (u, v)).toDF("u", "v")
    assert(Graph.triangleCount(k4).as[Long].head() == 4L)
  }

  test("pageRank: replays the exact integer recurrence on the pendant-triangle graph") {
    // hand-rolled replica of the documented recurrence
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val nbrs = edgeList.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    var pr = nbrs.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val c = pr.map { case (n, p) => n -> p / deg(n) }
      pr = nbrs.map { case (n, ns) => n -> (150000L + 85L * ns.map(c).sum / 100L) }
    }
    val got = Graph.pageRank(edges, iters = 3).as[(Long, Long)].collect().toMap
    assert(got == pr)
    // the hub (node 3, degree 3) must outrank the pendant (node 4)
    assert(got(3L) > got(4L))
  }

  test("pageRank: leaves no cache-registry entry behind (managed lifetime)") {
    Graph.pageRank(edges, iters = 2).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "pageRank leaked a cached plan into the registry")
  }

  test("triangleCount: leaves no cache-registry entry behind (managed lifetime)") {
    Graph.triangleCount(edges).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "triangleCount leaked a cached plan into the registry")
  }

  test("connectedComponents: min-reachable-id labels across disjoint components; deep chains resolve") {
    // two components: the basket graph {1,2,3,4} and a disjoint edge
    val e = edges.unionByName(Seq((8L, 9L)).toDF("u", "v"))
    val got = Graph.connectedComponents(e)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      8L -> 8L, 9L -> 8L))
    // a diameter-9 chain labels to its min end within default rounds
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("u", "v")
    val chainLabels = Graph.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(chainLabels == (1L to 10L).map(_ -> 1L).toMap)
    assert(spark.sharedState.cacheManager.isEmpty,
      "connectedComponents leaked a cached plan into the registry")
  }

  test("kCore: K4 plus a pendant chain — the chain peels, the clique survives with its in-core degrees") {
    // K4 on {1,2,3,4} (all degrees 3) + chain 4-5, 5-6, 6-7
    val e = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b))
      .toDF("u", "v")
      .unionByName(Seq((4L, 5L), (5L, 6L), (6L, 7L)).toDF("u", "v"))
    val got3 = Graph.kCore(e, k = 3).as[(Long, Long)].collect().toMap
    assert(got3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"3-core must be exactly the K4: $got3")
    // k=2: the chain still peels (sequentially: 7, then 6, then 5) —
    // three peel rounds plus the fixpoint confirmation
    val got2 = Graph.kCore(e, k = 2).as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a too-small round budget throws strictly instead of returning a
    // partially peeled core
    intercept[IllegalStateException] {
      Graph.kCore(e, k = 2, maxIter = 2).collect()
    }
    // everything peels → empty core, clean fixpoint
    assert(Graph.kCore(e, k = 4).count() == 0L)
  }

  test("hits: replays the exact integer recurrence on a bipartite buyer/part graph") {
    // customers 1,2,3 → parts 11,12,13; hand-walked two rounds:
    //   h1r: c1=2e6 c2=1e6 c3=1e6; max 2e6 → div 2 → c1=1e6 c2=c3=5e5
    //   a1r: p1=1.5e6 p2=1e6 p3=5e5; max 1.5e6 → div 2 → 75e4/5e5/25e4
    //   h2r: c1=1.25e6 c2=75e4 c3=25e4; div 2 → 625e3/375e3/125e3
    //   a2r: p1=1e6 p2=625e3 p3=125e3; max 1e6 → div 1 → unchanged
    val e = Seq((1L, 11L), (1L, 12L), (2L, 11L), (3L, 13L)).toDF("src", "dst")
    val got = Graph.hits(e, iters = 2).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      1L -> (625000L, 0L), 2L -> (375000L, 0L), 3L -> (125000L, 0L),
      11L -> (0L, 1000000L), 12L -> (0L, 625000L), 13L -> (0L, 125000L)))
  }

  test("hits: a 2-cycle is its own fixpoint — every node hub = auth = 1e6") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.hits(e, iters = 3).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1000000L, 1000000L), (2L, 1000000L, 1000000L)))
  }

  test("personalizedPageRank: replays the exact seeded recurrence; unreachable nodes stay exactly 0") {
    // hand-rolled replica on the pendant-triangle graph, seeded at {1}
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val nbrs = edgeList.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    val seedSet = Set(1L)
    var pr = nbrs.keys.map(n => n -> (if (seedSet(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val c = pr.map { case (n, p) => n -> p / deg(n) }
      pr = nbrs.map { case (n, ns) =>
        n -> ((if (seedSet(n)) 150000L else 0L) + 85L * ns.map(c).sum / 100L)
      }
    }
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPageRank(edges, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == pr)
    // proximity, not global importance: the seed's 1-hop ball outranks
    // the 2-hop pendant (the seed itself can legitimately rank below
    // its hub neighbour once its initial mass has spread)
    assert(got(1L) > got(4L) && got(3L) > got(4L) && got(4L) > 0L)
    // a component disconnected from the seeds scores exactly 0
    val e2 = edges.unionByName(Seq((8L, 9L)).toDF("u", "v"))
    val got2 = Graph.personalizedPageRank(e2, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got2(8L) == 0L && got2(9L) == 0L && got2(1L) == got(1L))
    // an EDGELESS seed keeps its row with exactly the base term — a
    // caller-supplied seed must never vanish silently
    val got3 = Graph.personalizedPageRank(edges,
        Seq(1L, 77L).toDF("node"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got3(77L) == 150000L, s"edgeless seed must keep base mass: $got3")
    assert(got3(1L) == got(1L),
      "an edgeless seed must not perturb the connected scores")
    assert(spark.sharedState.cacheManager.isEmpty,
      "personalizedPageRank leaked a cached plan into the registry")
  }

  test("labelPropagation: two cliques over a bridge split into two communities; ties break to min label") {
    // cliques {1,2,3} and {4,5,6} bridged 3-4 — one COMPONENT, but the
    // per-clique majority vote separates them; hand-unrolled 4 rounds
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("u", "v")
    val got = Graph.labelPropagation(e, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), s"got $got")
    // round-count is contractual: after round 1 every label is the
    // min NEIGHBOUR id (all vote counts are 1 on this graph, tie→min)
    val r1 = Graph.labelPropagation(e, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 4L, 6L -> 4L), s"got $r1")
    assert(spark.sharedState.cacheManager.isEmpty,
      "labelPropagation leaked a cached plan into the registry")
  }

  test("pageRankWeighted: all-ones weights reproduce pageRank bit for bit; a heavy edge pulls mass") {
    val e1 = edges.select(col("u"), col("v"), lit(1L).as("w"))
    val want = Graph.pageRank(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    val got = Graph.pageRankWeighted(e1, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == want, "w=1 must be exactly pageRank")
    // path 1-2-3 with the 1-2 edge 10x heavier: node 1 receives
    // 10/11ths of 2's mass, node 3 one 11th
    val e2 = Seq((1L, 2L, 10L), (2L, 3L, 1L)).toDF("u", "v", "w")
    val g2 = Graph.pageRankWeighted(e2, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(g2(1L) > g2(3L), s"heavy edge must outrank: $g2")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("randomWalks: every hop follows an existing edge, walks are deterministic, and a chain is forced") {
    val walks = Graph.randomWalks(edges, steps = 3)
    val rows = walks.as[(Long, Int, Long)].collect()
    val n = Graph.degrees(edges).count()
    assert(rows.length == n * 4, "one walk per node, steps+1 rows each")
    // every consecutive (step i-1 -> i) pair of a walk is an edge
    val undirected = edges.as[(Long, Long)].collect()
      .flatMap(e => Seq(e, e.swap)).toSet
    val byWalk = rows.groupBy(_._1)
    byWalk.values.foreach { steps =>
      val path = steps.sortBy(_._2).map(_._3)
      path.sliding(2).foreach { case Array(a, b) =>
        assert(undirected.contains((a, b)), s"hop $a->$b is not an edge")
      }
    }
    // deterministic: a second run is identical
    val again = Graph.randomWalks(edges, steps = 3)
      .as[(Long, Int, Long)].collect()
    assert(rows.sortBy(r => (r._1, r._2)).sameElements(
      again.sortBy(r => (r._1, r._2))))
    // a degree-1 chain has exactly one choice at every hop
    val chain = Seq((1L, 2L)).toDF("u", "v")
    val forced = Graph.randomWalks(chain, steps = 2)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (w, ss) => w -> ss.sortBy(_._2).map(_._3).toSeq }
    assert(forced == Map(1L -> Seq(1L, 2L, 1L), 2L -> Seq(2L, 1L, 2L)))
  }

  test("neighborhoodSizes: HyperBall registers equal the true r-ball's registers — estimates match exactly") {
    // path 1-2-3-4-5: 2-balls are {1,2,3}, {1..4}, {1..5}, {2..5}, {3,4,5}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val balls = Map(
      1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 2L, 3L, 4L),
      3L -> Seq(1L, 2L, 3L, 4L, 5L), 4L -> Seq(2L, 3L, 4L, 5L),
      5L -> Seq(3L, 4L, 5L))
    val ballDf = balls.toSeq.flatMap { case (v, ms) => ms.map(v -> _) }
      .toDF("node", "_k")
    val want = Sketches.estimateRegistersBy(
        Sketches.registersByGroup(ballDf, "_k", p = 4, Seq("node")),
        Seq("node"), p = 4, as = "ball_est")
      .as[(Long, Double)].collect().toMap
    val got = Graph.neighborhoodSizes(path, radius = 2, p = 4)
      .as[(Long, Double)].collect().toMap
    assert(got == want, s"got $got want $want")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("packed HyperBall bit-equals the sparse row-form twin — hub graph, radius 3") {
    // star hub 0 over 1..8 plus a triangle tail: hub merges 8 incoming
    // register rows per round — the shape the packed form's map-side
    // partial agg exists for
    val g = ((1L to 8L).map(0L -> _) ++ Seq((1L, 2L), (2L, 9L), (9L, 1L)))
      .toDF("u", "v")
    val packed = Graph.neighborhoodSizes(g, radius = 3, p = 4)
      .as[(Long, Double)].collect().toMap
    val rows = Graph.neighborhoodSizesRows(g, radius = 3, p = 4)
      .as[(Long, Double)].collect().toMap
    assert(packed == rows, s"packed $packed rows $rows")
  }

  test("clusteringCoefficients: pendant-triangle graph — exact per-node credits and floor-division lcc") {
    // triangle {1,2,3} + pendant edge 3-4: T(1)=T(2)=T(3)=1, T(4)=0;
    // lcc: 1,2 → 2·1e6/(2·1)=1e6; 3 → 2·1e6/(3·2)=333333; 4 → deg 1 → 0
    val got = Graph.clusteringCoefficients(edges)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == Map(
      1L -> (2L, 1L, 1000000L), 2L -> (2L, 1L, 1000000L),
      3L -> (3L, 1L, 333333L), 4L -> (1L, 0L, 0L)))
  }

  test("clusteringCoefficients: K4 — every node closes all its wedges (lcc = 1e6, 3 triangles each)") {
    val k4 = (for { u <- 1L to 4L; v <- (u + 1) to 4L } yield (u, v)).toDF("u", "v")
    val got = Graph.clusteringCoefficients(k4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == (1L to 4L).map(_ -> ((3L, 3L, 1000000L))).toMap)
    // total credits = 3 · the census count (each triangle credits 3 nodes)
    assert(got.values.map(_._2).sum == 3L * 4L)
    // a path has no triangles anywhere: every node 0, degree-1 ends lcc 0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val gotPath = Graph.clusteringCoefficients(path)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(gotPath == Map(1L -> (1L, 0L, 0L), 2L -> (2L, 0L, 0L),
      3L -> (1L, 0L, 0L)))
    assert(spark.sharedState.cacheManager.isEmpty,
      "clusteringCoefficients leaked a cached plan into the registry")
  }

  test("linkPrediction: square's diagonals predicted with exact RA; existing edges excluded; hub cap audited") {
    // square 1-2-3-4-1: the diagonals (1,3) and (2,4) each have two
    // degree-2 common neighbours → cn = 2, ra = 2 · (1e12 div 2) = 1e12
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val got = Graph.linkPrediction(square, minCommonNeighbors = 1L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 2L, 1000000000000L), (2L, 4L, 2L, 1000000000000L)))

    // path 1-2-3: (1,3) via center 2 (deg 2): cn = 1, ra = 5e11; and
    // NO pair for adjacent (1,2)/(2,3)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val gotPath = Graph.linkPrediction(path, minCommonNeighbors = 1L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(gotPath == Seq((1L, 3L, 1L, 500000000000L)))

    // star center 9 over 5 leaves: cap 4 excludes it from pair formation
    // (no predictions), and the audit names it with its degree
    val star = (1L to 5L).map(i => (math.min(9L, i), math.max(9L, i)))
      .map { case (a, b) => (a, b) }.toDF("u", "v")
    assert(Graph.linkPrediction(star, maxCenterDegree = 4, minCommonNeighbors = 1L).isEmpty)
    val ovf = Graph.linkPredictionOverflow(star, maxCenterDegree = 4)
      .as[(Long, Long)].collect().toSeq
    assert(ovf == Seq((9L, 5L)))
  }

  test("edgeSupport: K4 minus an edge — exact per-edge triangle counts, support-0 edges stay visible") {
    // K4 on {1..4} without (3,4): triangles {1,2,3} and {1,2,4}; edge
    // (1,2) sits in both, the four others in one each
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("u", "v")
    val got = Graph.edgeSupport(e).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 1L), (1L, 4L, 1L),
      (2L, 3L, 1L), (2L, 4L, 1L)))
    // a pure path has no triangles: every edge visible at support 0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val gotPath = Graph.edgeSupport(path).as[(Long, Long, Long)].collect().toSet
    assert(gotPath == Set((1L, 2L, 0L), (2L, 3L, 0L)))
  }

  test("kTruss: the peel cascades — K4-minus-an-edge at k=4 collapses to empty through the intermediate set") {
    // round 1 on K4\{3,4}: only (1,2) has support 2 >= 2 -> survives
    // alone; round 2: its support drops to 0 -> empty; round 3 is the
    // empty fixpoint. A support-once filter would wrongly keep (1,2).
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("u", "v")
    assert(Graph.kTruss(e, k = 4, maxIter = 5).isEmpty)
    // k=3 keeps everything: every edge is in >= 1 triangle already
    val k3 = Graph.kTruss(e, k = 3, maxIter = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(k3 == Set((1L, 2L, 2L), (1L, 3L, 1L), (1L, 4L, 1L),
      (2L, 3L, 1L), (2L, 4L, 1L)))
    // K4 proper is its own 4-truss: every edge in exactly 2 triangles
    val k4 = (for { u <- 1L to 4L; v <- (u + 1) to 4L } yield (u, v)).toDF("u", "v")
    val gotK4 = Graph.kTruss(k4, k = 4, maxIter = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotK4.size == 6 && gotK4.forall(_._3 == 2L))
  }

  test("kTruss: strict budget exhaustion throws; non-strict returns the partial peel") {
    // the cascade above needs 3 rounds to fixpoint; a 1-round budget
    // must fail loudly, not hand back a silently-partial truss
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("u", "v")
    val ex = intercept[IllegalStateException](Graph.kTruss(e, k = 4, maxIter = 1))
    assert(ex.getMessage.contains("fixpoint"))
    val partial = Graph.kTruss(e, k = 4, maxIter = 1, strict = false)
      .as[(Long, Long, Long)].collect().toSet
    assert(partial == Set((1L, 2L, 2L)))
  }

  test("kTruss on the real co-purchase graph: non-empty, every support >= k-2, supports are the fixpoint") {
    // sf0.001 co-purchase graph at k=5: the peel must leave a non-empty
    // truss, and recomputing edgeSupport over the returned edges alone
    // must reproduce the returned supports (no edge was kept on support
    // from a triangle whose other edges were peeled)
    val g = Graph.coOccurrenceEdges(
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001"),
      "l_orderkey", "l_partkey", maxBasketItems = 64)
    val truss = Graph.kTruss(g, k = 5, maxIter = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(truss.nonEmpty, "fixture degenerate: k=5 truss is empty")
    assert(truss.forall(_._3 >= 3L))
    val recomputed = Graph.edgeSupport(
        truss.toSeq.map { case (u, v, _) => (u, v) }.toDF("u", "v"))
      .as[(Long, Long, Long)].collect().toSet
    assert(recomputed == truss)
  }

  test("bfsDistances: min-hop over multiple seeds, the radius horizon cuts, and off-graph seeds echo at 0") {
    // path 1-2-3-4-5-6 with seeds {1, 9}: 9 is not in the graph
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("u", "v")
    val seeds = Seq(1L, 9L).toDF("node")
    val got = Graph.bfsDistances(path, seeds, radius = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 9L -> 0L))
    // two seeds meet in the middle: dist is the MIN over seeds
    val both = Graph.bfsDistances(path, Seq(1L, 6L).toDF("node"), radius = 3)
      .as[(Long, Long)].collect().toMap
    assert(both == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L, 6L -> 0L))
  }

  test("coOccurrenceEdgesWeighted: w counts qualifying baskets per pair; pair set matches the unweighted op") {
    // items fixture: basket 10 {1,2,3}, basket 20 {3,4}; add basket 40 {1,2}
    val more = items.unionByName(Seq((40L, 1L), (40L, 2L)).toDF("basket", "item"))
    val got = Graph.coOccurrenceEdgesWeighted(more, "basket", "item")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)))
    assert(Graph.coOccurrenceEdgesWeighted(more, "basket", "item")
      .select("u", "v").as[(Long, Long)].collect().toSet ==
      Graph.coOccurrenceEdges(more, "basket", "item")
        .as[(Long, Long)].collect().toSet)
  }

  test("ssspWeighted: a cheaper 2-edge path wins only once the round budget admits it; off-graph seeds echo 0") {
    // 1 -10-> 3 direct, 1 -1-> 2 -2-> 3 via 2: true dist(3) = 3
    val ew = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 2L)).toDF("u", "v", "w")
    val seeds = Seq(1L, 99L).toDF("node")
    val one = Graph.ssspWeighted(ew, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 10L, 99L -> 0L), one.toString)
    val two = Graph.ssspWeighted(ew, seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(two == Map(1L -> 0L, 2L -> 1L, 3L -> 3L, 99L -> 0L), two.toString)
  }

  test("ssspWeighted: zero-weight edges and multiple seeds take the min over seeds") {
    val ew = Seq((1L, 2L, 0L), (2L, 3L, 5L), (3L, 4L, 5L)).toDF("u", "v", "w")
    val got = Graph.ssspWeighted(ew, Seq(1L, 4L).toDF("node"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 5L, 4L -> 0L), got.toString)
  }

  test("harmonicCentrality: equals the hand-fold of per-radius ball estimates; hub tops a star") {
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("u", "v")
    val got = Graph.harmonicCentrality(path, maxRadius = 2, p = 4)
      .as[(Long, Long)].collect().toMap
    // recurrence cross-check against the independent per-radius walks:
    // H(R=2) = H(R=1) + max(0, e2 - e1) div 2, with e_r the quantized
    // radius-r ball estimates from neighborhoodSizes
    def estAt(r: Int): Map[Long, Long] =
      Graph.neighborhoodSizes(path, radius = r, p = 4)
        .select(col("node").cast("long"),
          expr("CAST(round(ball_est * 1000000) AS BIGINT)"))
        .as[(Long, Long)].collect().toMap
    val e1 = estAt(1); val e2 = estAt(2)
    val h1 = Graph.harmonicCentrality(path, maxRadius = 1, p = 4)
      .as[(Long, Long)].collect().toMap
    for ((n, h) <- got) {
      val want = h1(n) + math.max(0L, e2(n) - e1(n)) / 2L
      assert(h == want, s"node $n: $h != $want")
    }
    val star = (2L to 7L).map(i => (1L, i)).toDF("u", "v")
    val hs = Graph.harmonicCentrality(star, maxRadius = 2, p = 4)
      .as[(Long, Long)].collect().toMap
    assert((2L to 7L).forall(l => hs(1L) >= hs(l)), hs.toString)
  }

  test("neighborhoodFunction: each radius row equals the integer-micros fold of the per-node estimates") {
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("u", "v")
    val nf = Graph.neighborhoodFunction(path, maxRadius = 2, p = 4)
      .as[(Long, Long)].collect().toMap
    assert(nf.keySet == Set(0L, 1L, 2L))
    for (r <- 1 to 2) {
      val want = Graph.neighborhoodSizes(path, radius = r, p = 4)
        .select(expr("CAST(round(ball_est * 1000000) AS BIGINT)").as("m"))
        .agg(sum(col("m"))).as[Long].head()
      assert(nf(r.toLong) == want, s"radius $r")
    }
    // balls only grow with the radius
    assert(nf(0L) <= nf(1L) && nf(1L) <= nf(2L), nf.toString)
  }

  test("assortativity: exact moments — a star is perfectly disassortative, the pendant-triangle matches by hand") {
    // star: center 0 over leaves 1..3 — every edge joins deg 3 to deg 1
    val star = (1L to 3L).map(i => (0L, i)).toDF("u", "v")
    val rStar = Graph.assortativity(star).as[(Long, Double)].head()
    assert(rStar == ((6L, -1.0)))
    // pendant-triangle (the shared fixture): stubs (2,2)x2, (2,3)x2,
    // (3,2)x2, (3,1), (1,3) -> n=8 sx=sy=18 sxy=38 sxx=syy=44
    // r = (8*38 - 18*18) / (8*44 - 18*18) = -20/28 = -0.714286 (round 6)
    val rMix = Graph.assortativity(edges).as[(Long, Double)].head()
    assert(rMix == ((8L, -0.714286)))
  }

  test("assortativity: degree-regular graph pins the 0/0 case to NULL, not NaN") {
    // 4-cycle: every node deg 2 -> both variance terms are exactly 0;
    // Spark's double 0.0/0.0 would say NaN where DuckDB says NULL —
    // the contract pins NULL on both engines
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("u", "v")
    val row = Graph.assortativity(cycle).head()
    assert(row.getLong(0) == 8L)
    assert(row.isNullAt(1))
  }

  test("modularity: two cliques over a bridge — hand-computed q_num per community; trivial partition sums to 0") {
    // the LPA fixture: m = 7, per clique m_c = 3, d_c = 2+2+3 = 7
    //   q_num = 4·7·3 − 7² = 35 for each community
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("u", "v")
    val lbl = Graph.labelPropagation(e, rounds = 4)
    val got = Graph.modularity(e, lbl)
      .select(col("community"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"), col("q_num"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 3L, 7L, 35L), (3L, 3L, 3L, 7L, 35L)), s"got $got")
    // Q = Σ 35 / (4·49) = 70/196 ≈ 0.357 — positive, denser than chance.
    // Newman's null check: the all-in-one partition has Q exactly 0
    // (m_c = m, d_c = 2m → 4m·m − 4m² = 0)
    val one = e.select(col("u").as("node")).unionByName(
        e.select(col("v").as("node"))).distinct()
      .select(col("node"), lit(99L).as("community"))
    val trivial = Graph.modularity(e, one)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(trivial == Seq((99L, 6L, 7L, 14L, 0L)), s"got $trivial")
    // a community with NO intra edges contributes a pure −d_c² penalty
    val anti = e.select(col("u").as("node")).unionByName(
        e.select(col("v").as("node"))).distinct()
      .select(col("node"), (col("node") % 2).as("community"))
    val qs = Graph.modularity(e, anti)
      .select(col("community"), col("q_num")).as[(Long, Long)].collect().toMap
    // partition {2,4,6} / {1,3,5}: cross edges only except (1,3),(5,?)…
    // hand check: intra(odd) = edges (1,3),(3,5)? (3,5) not an edge;
    // odd intra = {(1,3)}; even intra = {(4,6)}; d_odd = 2+3+2 = 7,
    // d_even = 2+3+2 = 7 → q = 4·7·1 − 49 = −21 each
    assert(qs == Map(1L -> -21L, 0L -> -21L), s"got $qs")
  }

  test("betweennessSampled: path graph and diamond reproduce Brandes dependencies in exact micros") {
    // path 1-2-3-4-5, src {1}: level1 = {2} (σ=1), level2 = {3} (σ=1)
    // δ(2) = σ2·(10⁶ + δ3)/σ3 = 10⁶; δ(3) = 0 at the horizon
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val src1 = Seq(1L).toDF("node")
    val got = Graph.betweennessSampled(path, src1, radius = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 1000000L, 3L -> 0L), s"got $got")
    // diamond 1-2, 1-3, 2-4, 3-4, src {1}: σ(4) = 2 via two middles;
    // δ(2) = δ(3) = 1·(10⁶+0)/2 = 500000 — the split-dependency case
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val gotD = Graph.betweennessSampled(diamond, src1, radius = 2)
      .as[(Long, Long)].collect().toMap
    assert(gotD == Map(2L -> 500000L, 3L -> 500000L, 4L -> 0L), s"got $gotD")
    // two sources on the path accumulate: src {1, 5} -> nodes 2 and 4
    // each broker one source's reach
    val got2 = Graph.betweennessSampled(path, Seq(1L, 5L).toDF("node"), radius = 2)
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(2L -> 1000000L, 4L -> 1000000L, 3L -> 0L), s"got $got2")
  }

  test("effectiveDiameter: a triangle saturates at radius 1; the answer meets the 90% rule by construction") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val row = Graph.effectiveDiameter(tri, maxRadius = 2).head()
    assert(row.getLong(0) == 1L, s"got $row") // 1-ball already = whole graph
    assert(row.getLong(1) == row.getLong(2), s"got $row") // nf saturated
    // contract: the reported radius satisfies 10·nf_at_r >= 9·nf_max
    assert(10L * row.getLong(1) >= 9L * row.getLong(2))
  }

  test("autoCenterDegree: largest cap whose wedge mass fits the budget, clamped") {
    // star hub h-(1..6) plus a path 1-2: degrees h=6, 1=2, 2=2, 3..6=1
    // wedge mass ascending by degree value: d=1 -> 4*1=4; d=2 -> 4+2*4=12;
    // d=6 -> 12+36=48. m=7 edges.
    val e = (Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (10L, 5L), (10L, 6L)) :+
      (1L, 2L)).toDF("u", "v")
    // budget 1: 1*7=7 >= 4 but < 12 -> cap d=1, lo-clamped to 16
    assert(Graph.autoCenterDegree(e, budgetFactor = 1) == 16)
    // budget 2: 14 >= 12, < 48 -> cap 2 -> still lo clamp 16
    assert(Graph.autoCenterDegree(e, budgetFactor = 2) == 16)
    // budget 7: 49 >= 48 -> cap 6 -> clamp 16
    assert(Graph.autoCenterDegree(e, budgetFactor = 7) == 16)
    // a high-degree graph escapes the lo clamp: K2 chain of hubs
    val big = (1 to 40).flatMap(i => (1 to 40).filter(_ > i)
      .map(j => (i.toLong, j.toLong))).toDF("u", "v") // K40: deg 39, m=780
    // mass at d=39: 40*39^2 = 60840; budget 78: 78*780 = 60840 exactly fits
    assert(Graph.autoCenterDegree(big, budgetFactor = 78) == 39)
    // budget 77: 60060 < 60840 -> no degree fits -> lo clamp
    assert(Graph.autoCenterDegree(big, budgetFactor = 77) == 16)
  }
}
