package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over co-occurrence graphs (reference scope: the
  * engine-capability surface a general analytics library needs beyond
  * the reference's linear ELT — market-basket edges, triangle census,
  * PageRank — SURVEY §2.7 extension family).
  *
  * Scale design, in order of the pipeline:
  *   - Edge derivation is the market-basket self-pair: the k² blowup on
  *     a pathological basket is bounded by an explicit item cap (the
  *     d11/d24 rule: cap + encode the cap in the oracle), and pairs are
  *     generated from a per-basket sorted set — ONE basket-keyed
  *     exchange, narrow pair expansion, then the (u,v)-distinct
  *     exchange. Never an uncapped basket self-join.
  *   - Triangle counting uses degree orientation (each edge directed
  *     low→high degree): every triangle has exactly one node with two
  *     out-edges inside it, so wedges-from-src joined against the edge
  *     set count each triangle once, and out-degree is bounded by
  *     O(√2m) — the wedge fan-out that makes the naive undirected form
  *     explode on hub nodes is structurally capped.
  *   - PageRank runs in exact integer micros (damping 0.85 as the
  *     rational 85/100, contributions as floor divisions) so a DuckDB
  *     oracle can unroll the iterations as CTEs and match hash-exact
  *     (the d10 k-means / d29 BPE precedent); every iteration is one
  *     contribution join + one incoming-sum exchange.
  */
object Graph {

  /** THE round harness — every iterative walk in this file runs its
    * rounds through one of these three doors instead of a hand-rolled
    * loop. The class of bug this kills has bitten twice: g04's
    * plan-growth OOM (a round that forgets to pin its state re-plans
    * the whole history each round) and g13's build-side OOM (a
    * per-round join hinted onto the edge-sized side). The harness owns
    * the round budget and the checkpoint lifecycle; the step closure
    * owns only one round's dataflow.
    *
    * `pinEachRound` mirrors each op's measured lifecycle decision and
    * is part of its contract, not a default to flip casually: the
    * frontier walks (BFS/SSSP/LPA/levels) pin every round — their
    * state is re-read by the next round's join AND the round count is
    * caller-dialed, so an unpinned chain re-plans quadratically; the
    * fixed-small-round PageRank/HITS family measures FASTER unpinned
    * at its ≤8-round budgets (each checkpoint is an eager
    * materialization; 3 rounds of lazy pipeline beat 3 materialized
    * barriers) and its unrolled plan is budget-bounded by the same
    * require that bounds the oracle unroll. */
  private[ops] def iterateRounds(rounds: Int, init: DataFrame,
      pinEachRound: Boolean)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var cur = init
    var r = 1
    while (r <= rounds) {
      val next = step(cur, r)
      cur = if (pinEachRound) next.localCheckpoint(true) else next
      r += 1
    }
    cur
  }

  /** Multi-frame state variant (HITS's hub/auth alternation, the
    * walks that fold a per-round emission into an accumulator):
    * the harness owns the budget; the step owns which state
    * components pin (document the choice at the call site). */
  private[ops] def iterateRoundsState[S](rounds: Int, init: S)(
      step: (S, Int) => S): S = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var cur = init
    var r = 1
    while (r <= rounds) { cur = step(cur, r); r += 1 }
    cur
  }

  /** Fixpoint variant for the peels (kCore, kTruss): rounds run until
    * `measure` stops moving or the budget exhausts — and a blown
    * budget THROWS under `strict` rather than returning
    * silently-partial state (worse than failure; the contract an
    * oracle unroll of exactly `maxRounds` rounds relies on, since
    * rounds past fixpoint are idempotent for a peel). Each round's
    * state pins eagerly — peels re-read their survivor list. */
  private[ops] def iterateToFixpoint(maxRounds: Int, strict: Boolean,
      opName: String, init: DataFrame)(measure: DataFrame => Long)(
      step: DataFrame => DataFrame): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var cur = init
    var m = measure(cur)
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      val next = step(cur).localCheckpoint(true)
      val mn = measure(next)
      converged = mn == m
      cur = next; m = mn; r += 1
    }
    if (strict && !converged)
      throw new IllegalStateException(
        s"$opName did not reach fixpoint in $maxRounds rounds — raise the " +
          "budget (the oracle unroll must move with it) or relax the dial")
    cur
  }

  /** Undirected co-occurrence edges (u < v, distinct) from a
    * (basket, item) relation: u,v co-occur iff some basket contains
    * both. Baskets with fewer than 2 or more than `maxBasketItems`
    * distinct items contribute nothing — the cap bounds the per-basket
    * pair expansion at cap², and belongs in any oracle SQL too.
    * Output: (u, v) typed as the item column. */
  def coOccurrenceEdges(items: DataFrame, basketCol: String, itemCol: String,
      maxBasketItems: Int = 64): DataFrame = {
    val baskets = items
      .where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .groupBy(col("_b"))
      .agg(sort_array(collect_set(col("_i"))).as("_items"))
      .where(size(col("_items")).between(2, maxBasketItems))
    // sorted set + index-ordered pair expansion: u < v by construction,
    // so no post-filter on values and the distinct is the only exchange
    // after the basket agg
    baskets
      .select(posexplode(col("_items")).as(Seq("_iu", "u")), col("_items"))
      .select(col("u"), posexplode(col("_items")).as(Seq("_iv", "v")), col("_iu"))
      .where(col("_iv") > col("_iu"))
      .select(col("u"), col("v"))
      .distinct()
  }

  /** Per-node degree of an undirected (u, v) edge list:
    * (node, deg: long). */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("deg"))

  /** Exact triangle count by degree orientation + edge-iterator
    * adjacency intersection. Edges orient from the (deg, id)-smaller
    * endpoint, making the graph a DAG in which each triangle has
    * exactly one "counting" edge (u→v) whose endpoints share the third
    * node as a common OUT-neighbour — so
    * n_triangles = Σ_{(u,v)} |N⁺(u) ∩ N⁺(v)|.
    * Why not materialize wedges and close them against the edge set:
    * that shuffles Σ C(outdeg, 2) ≈ m^1.5 wedge ROWS (measured 13 s at
    * sf0.1 — the round-7 bench outlier); this form shuffles O(m) edge
    * rows carrying O(√m)-bounded adjacency arrays and runs the
    * intersection as a zero-allocation codegen'd two-pointer pass
    * (graft_sorted_intersect_count) per row. Orientation is what
    * bounds the array: out-degree ≤ O(√2m) regardless of hub degree.
    * Only the NODE-sized adjacency table materializes (eager
    * localCheckpoint — it feeds both join sides; managed lifetime, the
    * dupClusters rule): exploding it back regenerates each oriented
    * edge WITH its src adjacency already attached, so the u-side
    * adjacency join the naive plan needs disappears. Returns one row:
    * (n_triangles: long). */
  def triangleCount(edges: DataFrame): DataFrame = {
    val adj = orient(edges.select(col("u"), col("v")))
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("_nbrs"))
      .localCheckpoint(true)
    // a dst with no out-edges (a DAG sink) simply drops from the inner
    // join — its intersection is empty and contributes 0. The join is
    // pinned SHUFFLE_HASH with the node-sized adjacency as build side:
    // the exploded edge stream scans from a checkpoint (no size stats),
    // and AQE's fallback estimate otherwise BROADCASTS the O(m·√m)
    // stream — a 600 MB broadcast at sf0.1 and a dead executor at
    // scale. A sort-merge join would instead SORT the array-carrying
    // stream. Hash-shuffling it is the honest O(m) exchange.
    val perEdge = adj
      .select(col("_nbrs").as("_nu"), explode(col("_nbrs")).as("dst"))
      .join(adj.select(col("src").as("_sv"), col("_nbrs").as("_nv")).hint("shuffle_hash"),
        col("dst") === col("_sv"))
      .select(graft.functions.TextHashExpressions
        .sortedIntersectCount(col("_nu"), col("_nv")).as("_k"))
    perEdge.agg(coalesce(sum(col("_k")), lit(0L)).as("n_triangles"))
  }

  /** Degree-orient an undirected (u < v) edge list: src is the
    * (deg, id)-smaller endpoint. The degree frame joins back onto the
    * edges twice — AQE broadcasts it when #nodes is small and falls
    * back to a node-keyed shuffle join when it isn't; neither path is
    * a scale hazard (degrees is one row per node). */
  private def orient(e: DataFrame): DataFrame = {
    val deg = degrees(e)
    val srcFirst = col("_du") < col("_dv") ||
      (col("_du") === col("_dv") && col("u") < col("v"))
    e.join(deg.select(col("node").as("u"), col("deg").as("_du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("_dv")), "v")
      .select(
        when(srcFirst, col("u")).otherwise(col("v")).as("src"),
        when(srcFirst, col("v")).otherwise(col("u")).as("dst"))
  }

  /** PageRank in exact integer micros over an undirected edge list
    * (both directions materialized). pr₀ = 1_000_000 per node;
    * pr_{i+1} = 150_000 + (85 · Σ_{s→node} (pr_i(s) div deg(s))) div 100
    * — every operation an exact long op, identical under any partition
    * or merge order, so a DuckDB oracle unrolling the same iterations
    * matches bit-for-bit. Nodes are edge endpoints (deg ≥ 1 — no
    * dangling-mass term; an isolated node never enters the graph).
    * The edge list and degree frame materialize once via eager
    * localCheckpoint (each is referenced every iteration; the managed-
    * lifetime rule — no cache-registry entry survives the call).
    * Long-range bound (the count-min |A|·|B| rule, applied here): a
    * node's damping step computes 85 · s_in, and s_in is at most the
    * total graph mass n · 10⁶ — so the arithmetic is exact while
    * n < 2^63 / 85e6 ≈ 1.08 · 10¹¹ nodes. Beyond that a universal hub
    * would WRAP in Spark (long arithmetic is unchecked) while a checked
    * oracle errors; at 100 B+ nodes, move the ladder to decimal(38,0)
    * — documented, not defended, the same contract as countMinJoinSize.
    * Returns (node, pr: long). */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Plain eager checkpoints, no partitioning games — both
    // alternatives were MEASURED WORSE at sf0.1: (a) repartition(t)
    // before the checkpoint is wasted because a checkpoint's LogicalRDD
    // drops outputPartitioning, so the groupBy exchange returns anyway;
    // (b) cache() (which does preserve partitioning) + a final eager
    // checkpoint costs more in materialization than the three ~40 MB
    // per-iteration exchanges it saves (5.5 s vs 4.4 s). The loop's
    // repeated cost — one shuffle-hash contribution join + one
    // incoming-sum exchange per iteration — is the honest PageRank
    // shape at any scale.
    //
    // The contribution join is PINNED shuffle_hash: left to AQE it
    // broadcasts the per-iteration contrib frame (node count × 16 B,
    // rebuilt and re-shipped every iteration off a stats-less
    // checkpoint scan), which an interleaved A/B measured strictly
    // worse at BOTH scales — sf0.1 3.58 s vs 4.64 s, 30× corpus
    // 28.0 s vs 35.6 s (min-of-two each) — and whose driver-side
    // collect grows with node count, exactly the wrong trend at 100 TB.
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    val deg = ed.groupBy(col("s").as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    def round(contrib: DataFrame): DataFrame =
      ed.join(contrib, ed("s") === contrib("node"))
        .groupBy(col("t").as("node"))
        .agg(sum(col("c")).as("s_in"))
        .select(col("node"), expr("150000L + (85L * s_in) div 100L").as("pr"))
    // Round 1 folded (the HITS outdegree·10⁶ precedent): pr₀ is the
    // constant 10⁶ on exactly deg's node universe, so the round-1
    // contribution join (pr₀ ⋈ deg) is a self-join of deg — the
    // contribution is the PROJECTION 10⁶ div d, one n-row join saved.
    val pr1 = round(deg.select(col("node"), expr("1000000L div d").as("c"))
      .hint("shuffle_hash"))
    // unpinned rounds: the ≤budget-round unrolled plan is cheaper than
    // per-round materialization at PageRank's small fixed budgets (see
    // iterateRounds' lifecycle note)
    iterateRounds(iters - 1, pr1, pinEachRound = false) { (pr, _) =>
      round(pr.join(deg, "node")
        .select(col("node"), expr("pr div d").as("c"))
        .hint("shuffle_hash"))
    }
  }

  /** Connected components of an undirected (u, v) edge list: component
    * id = the smallest node id reachable. Candidate-pair resolution IS
    * connected components, so this reuses the dupClusters min-label
    * propagation verbatim (ops/Dedup.scala — seeded one hop ahead,
    * whole-plan join rounds, per-round cache lifetime managed, strict
    * throw past `maxIter` rounds rather than silently-partial labels;
    * see that scaladoc for the O(diameter) convergence bound and the
    * deep-component guidance). Isolated nodes never appear in an edge
    * list — callers wanting them label the node set's complement as
    * singleton components. Output: (node, component), node typed as
    * the edge endpoints. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      strict: Boolean = true): DataFrame =
    Dedup.dupClusters(edges, "u", "v", maxIter, strict)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))

  /** [[connectedComponents]] by large-star/small-star contraction
    * ([[Dedup.dupClustersContract]]) — identical (node, component =
    * min reachable node) contract, O(log diameter) rounds instead of
    * O(diameter): the form to reach for when components can be deep
    * (chained near-dup boilerplate, long co-purchase paths). The A/B
    * against min-label propagation is recorded in BASELINE.md. */
  def connectedComponentsContract(edges: DataFrame, maxIter: Int = 30,
      strict: Boolean = true): DataFrame =
    Dedup.dupClustersContract(edges, "u", "v", maxIter, strict)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))

  /** THE front door ([[Dedup.dupClustersAuto]]): budgeted min-label
    * propagation, contraction fallover on budget exhaustion — callers
    * stop choosing an algorithm by guessing the diameter. Decision
    * table, for callers who do want to pin one:
    *
    *   | graph shape                      | direct call                     |
    *   |----------------------------------|---------------------------------|
    *   | near-dup clusters (diameter ≤ 2) | [[connectedComponents]]         |
    *   | unknown / mixed                  | THIS                            |
    *   | known deep (chains, long paths)  | [[connectedComponentsContract]] |
    */
  def connectedComponentsAuto(edges: DataFrame, propagationBudget: Int = 5,
      maxIter: Int = 30, strict: Boolean = true): DataFrame =
    Dedup.dupClustersAuto(edges, "u", "v", propagationBudget, maxIter, strict)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))

  /** k-core extraction by iterative peeling: repeatedly drop nodes
    * whose degree in the SURVIVING subgraph is < k until fixpoint —
    * the standard dense-substructure filter (nodes outside the core
    * are tree-ish periphery; inside, every member has ≥ k in-core
    * neighbours). Output: (node, core_degree) for core members only —
    * peeled nodes and isolated nodes are absent by construction.
    *
    * Scale shape: each round is one degree hash-agg plus two
    * LEFT-SEMI joins of the edge list against the ≥k survivor set —
    * all keyed on node ids, no pair formation beyond the existing
    * edges — and the shrinking edge list is eagerly
    * localCheckpointed per round (the g04/g05 discipline: constant
    * plan size, no lineage chain, round N never recomputes rounds
    * 1..N−1). Rounds are bounded by `maxIter` with a STRICT throw on
    * budget exhaustion (the components contract — silently-partial
    * cores are worse than failure): peeling converges in ≤ a few
    * rounds on real degree distributions because each round must
    * delete at least one node to continue. The driver-side work per
    * round is one count() on a bounded frame.
    *
    * The round budget is part of the op's CONTRACT (an oracle replay
    * unrolls exactly `maxIter` rounds; extra rounds past fixpoint are
    * idempotent, so any successful run compares exactly). */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 10,
      strict: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // peel on the UNDIRECTED list (one row per edge, the
    // coOccurrenceEdges contract), degrees via an endpoint explode:
    // the symmetric both-directions form shuffles and checkpoints 2m
    // rows per round for the same information — measured 1.9× slower
    // at the 100× corpus (587 s → vs this form; BASELINE.md)
    val und0 = edges.select(col("u").as("a"), col("v").as("b"))
      .localCheckpoint(true)
    val und = iterateToFixpoint(maxIter, strict, "kCore", und0)(_.count()) { und =>
      val keep = und
        .select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("_d"))
        .where(col("_d") >= k).select(col("node"))
      und
        .join(keep, und("a") === keep("node"), "left_semi")
        .join(keep, und("b") === keep("node"), "left_semi")
    }
    und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Link prediction over an undirected (u < v, distinct) edge list:
    * for every NON-adjacent pair sharing ≥ `minCommonNeighbors`
    * neighbours, the common-neighbour count and the resource-allocation
    * index (Zhou et al. 2009) RA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w) —
    * the score families entity-resolution uses to propose dup-cluster
    * links the candidate generators missed. RA is computed as the exact
    * integer Σ (10¹² div deg(w)) (`ra_x1e12`) — one floor division per
    * wedge, no float accumulation, so a DuckDB oracle replays it
    * bit-for-bit (Adamic-Adar's 1/log deg is NOT portable across libm;
    * RA is the published alternative that needs no log).
    *
    * Scale shape: wedges form per CENTER w, so candidate volume is
    * Σ_{deg(w) ≤ cap} deg(w)² ≤ cap · 2m — `maxCenterDegree` excludes
    * hub centers from pair formation entirely (cap + audit via
    * [[linkPredictionOverflow]], the d24 rule: a hub's wedges are the
    * quadratic regime AND the least informative links). One shuffle on
    * the center key, one on the (u, v) aggregate, one anti-join against
    * the existing edges (prediction means MISSING links only).
    * Overflow: each RA term is ≤ 10¹² div 2 (a center is adjacent to
    * both endpoints, deg ≥ 2), so Σ per pair is exact while the pair's
    * COMMON-NEIGHBOUR count stays < 2·2⁶³/10¹² ≈ 1.8·10⁷ — the cap
    * bounds the center's degree, NOT the endpoints', so a pair of
    * mega-hubs sharing >10⁷ capped centers would wrap: endpoint
    * degree ≥ 1.8·10⁷ is the documented-not-defended bound (the
    * pageRank contract; at that shape, cap the ENDPOINTS upstream).
    * Returns (u, v, common_neighbors, ra_x1e12). */
  def linkPrediction(edges: DataFrame, maxCenterDegree: Int = 256,
      minCommonNeighbors: Long = 2L): DataFrame = {
    require(maxCenterDegree >= 1,
      s"maxCenterDegree must be >= 1, got $maxCenterDegree")
    val adj = edges.select(col("u").as("w"), col("v").as("x"))
      .unionByName(edges.select(col("v").as("w"), col("u").as("x")))
    val ok = adj.groupBy(col("w")).agg(count(lit(1)).as("_d"))
      .where(col("_d") <= maxCenterDegree)
    val a = adj.join(ok, Seq("w")).select(col("w"), col("_d"), col("x").as("u"))
    // the b side is the a side reprojected — deriving it independently
    // (adj ⋈ ok again) costs a second join of the 2m-row adjacency
    // against the degree frame and blocks subtree reuse. An eager
    // checkpoint of `a` was MEASURED WORSE at sf0.1 (g09 2.9→3.8 s,
    // g25 5.1→8.4 s full-bench A/B, round 13): the cap join is a
    // broadcast over the already-pinned edge frame, so recomputing it
    // per self-join side is cheaper than materializing 2m capped rows.
    val b = a.select(col("w"), col("u").as("v"))
    a.join(b, Seq("w"))
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000000000L div _d")).as("ra_x1e12"))
      .where(col("common_neighbors") >= minCommonNeighbors)
      .join(edges, Seq("u", "v"), "left_anti")
  }

  /** AUTO-dial for [[linkPrediction]]'s center cap — a wedge-BUDGET
    * rule, not a √ rule: the largest degree cap c such that the total
    * wedge mass Σ_{nodes w: deg(w) ≤ c} deg(w)² stays within
    * `budgetFactor` edge-list units (≤ budgetFactor·m wedge rows),
    * clamped to [16, 4096]. This makes the op's total work
    * CONTRACTUALLY linear in the edge list at any scale — the same
    * shape as the iterative ops' round budgets — while adapting the
    * cap to the degree distribution (a hub-heavy graph gets a low cap
    * that excludes exactly the quadratic tail; a narrow-degree graph
    * spends its whole budget on body nodes). A √(2m) cap was measured
    * and rejected: total work (2m)^1.5, and on the narrow-degree
    * co-purchase corpus it binds nothing.
    *
    * Derivation is exact integer arithmetic replayable by a DuckDB
    * oracle from the same edge rows: group degrees by VALUE, take the
    * running Σ count(d)·d² in ascending-d order, keep the largest d
    * whose running mass ≤ budgetFactor·m. The per-VALUE profile is
    * driver-literal-sized (one row per distinct degree value — the
    * codebook size class), so the running fold happens on the DRIVER:
    * an unpartitioned window here would trip the repo's own
    * UnpartitionedWindowGuard, and the guard is right — the collect is
    * the honest statement that this state is bounded. */
  def autoCenterDegree(edges: DataFrame, budgetFactor: Int = 8): Int = {
    require(budgetFactor >= 1, s"budgetFactor must be >= 1, got $budgetFactor")
    val m = edges.count()
    val profile = degrees(edges)
      .groupBy(col("deg"))
      .agg((count(lit(1)) * col("deg") * col("deg")).as("_w"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val budget = budgetFactor.toLong * m
    var cum = 0L
    var best = 0L
    profile.foreach { case (d, w) =>
      cum += w
      if (cum <= budget) best = d
    }
    val raw = if (best == 0L) 16L else best
    math.max(16L, math.min(4096L, raw)).toInt
  }

  /** Neighborhood Jaccard for EXISTING edges — the edge-weighting pass
    * entity-resolution and community pipelines run before cutting weak
    * links (an edge whose endpoints share few neighbours relative to
    * their degrees is a bridge, not a community tie). For every edge
    * (u,v): the common-neighbour count over centers w with
    * deg(w) ≤ `maxCenterDegree` (the [[linkPrediction]] wedge budget —
    * same formation, same cap semantics: hub centers are excluded from
    * the count, documented-capped rather than silently quadratic) and
    * jac = |N(u)∩N(v)| / |N(u)∪N(v)| as the exact integer
    * (10⁶·common) div (deg(u)+deg(v)−common), full degrees in the
    * denominator. Every input edge emits exactly one row (zero-common
    * edges score 0), so the output is edge-list-sized.
    *
    * Scale shape (round-14): a common neighbour of an EXISTING edge is
    * a triangle's third vertex, so the count rides the g01/g15
    * degree-oriented intersection engine — O(√2m)-bounded sorted
    * adjacencies, one exploded-edge join, 3T unit credits filtered by
    * the third vertex's cap flag — instead of the center-keyed wedge
    * self-join (Σ_{deg(w)≤cap} deg(w)² pair rows) it replaced; the two
    * final degree joins stay node-sized pinned shuffle_hash. Returns
    * (u, v, common_neighbors, jac_x1e6). */
  def edgeJaccard(edges: DataFrame, maxCenterDegree: Int = 256): DataFrame = {
    require(maxCenterDegree >= 1,
      s"maxCenterDegree must be >= 1, got $maxCenterDegree")
    val idType = edges.schema("u").dataType
    // full-degree frame computed ONCE (node-sized, eager checkpoint):
    // it orients the edges, carries the cap flags, and is the Jaccard
    // denominator's degree source
    val degAll = degrees(edges).localCheckpoint(true)
    // Common-neighbour counting rides the g01/g15 DEGREE-ORIENTED
    // intersection engine (round-14 optimization, guide §3): for an
    // EXISTING edge (u,v), |{w : w∼u, w∼v, deg(w) ≤ cap}| is the
    // edge's triangle count restricted to capped third vertices — so
    // instead of materializing every common-neighbour PAIR from a
    // center-keyed wedge self-join (Σ_{deg(w)≤cap} deg(w)² rows into
    // the (u,v) agg), orient once by (deg, id), intersect the
    // O(√2m)-bounded sorted out-adjacencies per counting edge, and emit
    // THREE credits per witness row (the edgeSupportOriented shape) —
    // each credit kept only when the triangle's THIRD vertex passes the
    // cap. The cap flag travels INSIDE the adjacency values (neighbour
    // encoded as id·2 + [deg ≤ cap]; the flag is a function of the id,
    // so array_intersect still matches on identical encodings) and on
    // the wedge row for both endpoints, so no degree join touches the
    // 3T credit stream. Volume: 3T credit rows, never a wedge
    // materialization.
    val srcFirst = col("_du") < col("_dv") ||
      (col("_du") === col("_dv") && col("u") < col("v"))
    val oriented = edges.select(col("u"), col("v"))
      .join(degAll.select(col("node").as("u"), col("deg").as("_du")), "u")
      .join(degAll.select(col("node").as("v"), col("deg").as("_dv")), "v")
      .select(
        when(srcFirst, col("u")).otherwise(col("v")).as("src"),
        when(srcFirst, col("v")).otherwise(col("u")).as("dst"),
        when(srcFirst, col("_du")).otherwise(col("_dv")).as("_dsrc"),
        when(srcFirst, col("_dv")).otherwise(col("_du")).as("_ddst"))
    val cap = lit(maxCenterDegree.toLong)
    val adj = oriented
      .select(col("src"),
        (col("_dsrc") <= cap).cast("long").as("_fsrc"),
        (col("dst").cast("long") * 2L +
          when(col("_ddst") <= cap, 1L).otherwise(0L)).as("_enc"))
      .groupBy(col("src"), col("_fsrc"))
      .agg(sort_array(collect_list(col("_enc"))).as("_nbrs"))
      .localCheckpoint(true)
    // wedge join pinned shuffle_hash: node-sized adjacency as build
    // side against the exploded-edge stream (the g01 rule)
    val credits = adj
      .select(col("src").cast("long").as("_u"), col("_fsrc").as("_fu"),
        col("_nbrs").as("_nu"), explode(col("_nbrs")).as("_ve"))
      .select(col("_u"), col("_fu"), col("_nu"),
        shiftright(col("_ve"), 1).as("_v"),
        col("_ve").bitwiseAND(lit(1L)).as("_fv"))
      .join(adj.select(col("src").cast("long").as("_sv"),
          col("_nbrs").as("_nv")).hint("shuffle_hash"),
        col("_v") === col("_sv"))
      .select(col("_u"), col("_fu"), col("_v"), col("_fv"),
        explode(array_intersect(col("_nu"), col("_nv"))).as("_we"))
      // triangle (u→v, u→w, v→w): each of its three edges is credited
      // iff the OPPOSITE (third) vertex is a capped center
      .select(explode(array(
        struct(col("_u").as("a"), col("_v").as("b"),
          (col("_we").bitwiseAND(lit(1L)) === 1L).as("keep")),
        struct(col("_u").as("a"), shiftright(col("_we"), 1).as("b"),
          (col("_fv") === 1L).as("keep")),
        struct(col("_v").as("a"), shiftright(col("_we"), 1).as("b"),
          (col("_fu") === 1L).as("keep")))).as("_cr"))
      .where(col("_cr.keep"))
      .select(col("_cr.a").as("_a"), col("_cr.b").as("_b"))
    // each undirected edge has exactly one oriented form — grouping by
    // the oriented pair IS grouping by the edge
    val common = credits
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_cn"))
      .select(least(col("_a"), col("_b")).cast(idType).as("u"),
        greatest(col("_a"), col("_b")).cast(idType).as("v"), col("_cn"))
    val deg = degAll.select(col("node"), col("deg"))
    edges.select(col("u"), col("v"))
      .join(common, Seq("u", "v"), "left")
      .join(deg.select(col("node").as("u"), col("deg").as("_du"))
        .hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("_dv"))
        .hint("shuffle_hash"), Seq("v"))
      .select(col("u"), col("v"),
        coalesce(col("_cn"), lit(0L)).as("common_neighbors"),
        expr("(1000000L * coalesce(_cn, 0L)) div (_du + _dv - coalesce(_cn, 0L))")
          .as("jac_x1e6"))
  }

  /** Hub centers linkPrediction would exclude at this cap, with degrees
    * — the audit twin (never silently half-predicted). */
  def linkPredictionOverflow(edges: DataFrame, maxCenterDegree: Int = 256): DataFrame =
    edges.select(col("u").as("w"))
      .unionByName(edges.select(col("v").as("w")))
      .groupBy(col("w")).agg(count(lit(1)).as("degree"))
      .where(col("degree") > maxCenterDegree)

  /** HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    * list (src, dst), in exact long arithmetic so a DuckDB oracle
    * unrolling the same rounds matches bit-for-bit (the g02 rule).
    *
    * Integer recurrence: auth₀ = 1_000_000 for every node; each round
    * computes hub(u) = Σ_{u→v} auth(v) then auth(v) = Σ_{u→v} hub(u),
    * rescaling each half-step by the FLOOR-divisor
    * `greatest(1, (max + 999_999) div 1_000_000)` — division by a
    * positive scalar, so the rescale preserves the ranking exactly and
    * keeps every score ≤ 10⁶ (where classical HITS L2-normalizes with a
    * sqrt that no two engines round alike). Overflow budget: a
    * half-step sum is ≤ degree · 10⁶, exact while max in/out degree
    * < 9.2 · 10¹² — the pageRank documented-not-defended contract.
    *
    * Nodes = edge endpoints; a node with no out-edges has hub 0, no
    * in-edges auth 0 (pure hubs and pure authorities are the POINT on
    * a bipartite graph — customers score as hubs, parts as
    * authorities). Returns (node, hub, auth) as exact longs.
    *
    * Scale shape: per round two keyed joins + two grouped sums over the
    * edge list — linear in edges, no quadratic step, so no cap needed
    * (the d45 no-pair-formation family). The edge list materializes
    * once (localCheckpoint — referenced 2·iters times); the per-round
    * max is a one-row agg broadcast back (the mixtureWeights pattern).
    * Score joins are PINNED shuffle_hash for the same measured reason
    * as pageRank: AQE would broadcast a node-count-sized frame per
    * round off a stats-less checkpoint scan. */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 8,
      s"iters must be in [1,8], got $iters — each round is two joins and " +
        "two global maxes, and the oracle unroll must move with it")
    val ed = edges.select(col("src"), col("dst")).localCheckpoint(true)
    def rescaled(scores: DataFrame, scoreCol: String): DataFrame = {
      // eager localCheckpoint BEFORE the two references below (the max
      // agg and the rescale read): without it each rescale re-executes
      // its whole upstream twice, and with four rescales the first
      // half-step join runs up to 2⁴ times — measured 13.3 s → the
      // checkpointed form (the semDedup four-consumer rule)
      val once = scores.localCheckpoint(true)
      val mx = once.agg(max(col(scoreCol)).as("_mx"))
      once.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"$scoreCol div greatest(1L, (_mx + 999999L) div 1000000L)")
            .as(scoreCol))
    }
    def hubStep(auth: DataFrame): DataFrame = rescaled(
      ed.join(auth.hint("shuffle_hash"), ed("dst") === auth("node"))
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub")),
      "hub")
    def authStep(hub: DataFrame): DataFrame = rescaled(
      ed.join(hub.hint("shuffle_hash"), ed("src") === hub("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("auth")),
      "auth")
    // round 1's hub half-step joins against the CONSTANT 10⁶ init, so
    // the sum folds to outdegree · 10⁶ — same value, one join and the
    // node-universe init frame saved
    val hub1 = rescaled(
      ed.groupBy(col("src").as("node"))
        .agg((count(lit(1)) * 1000000L).as("hub")),
      "hub")
    // two-frame state through the shared harness; pinning lives inside
    // rescaled (each half-step's result has two consumers)
    val (hub, auth) = iterateRoundsState(iters - 1, (hub1, authStep(hub1))) {
      case ((_, a), _) =>
        val h = hubStep(a)
        (h, authStep(h))
    }
    val nodes = ed.select(col("src").as("node"))
      .unionByName(ed.select(col("dst").as("node")))
      .distinct()
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }

  /** Personalized PageRank (Jeh & Widom 2003) over an undirected edge
    * list: the teleport mass lands ONLY on the `seeds` set, so scores
    * measure proximity TO the seeds — the "related items" / "expand
    * this dup cluster" query global PageRank (g02) cannot express
    * (g02 ranks global importance; a PPR from a seed basket ranks
    * what is CLOSE to it). Exact integer recurrence (the g02 rule):
    * pr₀ = 10⁶·[v ∈ S]; pr_{i+1}(v) = 150 000·[v ∈ S] +
    * (85 · Σ_{s→v} pr_i(s) div deg(s)) div 100 — every op an exact
    * long op, so a DuckDB oracle unrolling the same rounds matches
    * bit-for-bit. Non-seed nodes unreachable from S stay exactly 0.
    * An EDGELESS seed (a listed node with no edges at all) keeps its
    * row with pr = its base term 150 000 — a caller expanding a dup
    * cluster must never lose a member silently (where pageRank's
    * "isolated node never enters the graph" contract is fine for
    * GLOBAL ranking, it is wrong for a caller-supplied seed list).
    *
    * Scale shape: EXACTLY pageRank's per-round cost — one pinned
    * shuffle-hash contribution join + one incoming-sum exchange — by
    * folding the seed base term INTO the next round's contribution
    * join, which already carries the seed flag and the degree: the
    * score frame holds only the damped sum, and pr = base + damp is
    * reassembled lazily (inside each contribution and once at the
    * end). The naive third per-round join against the node-sized
    * seed-flag frame measured 52× at the 100× corpus vs g02's 25× —
    * this form removes it (A/B in BASELINE.md). Seeds are a
    * DataFrame, never a driver literal — a dup-cluster seed set can
    * be millions of rows. Returns (node, pr: long). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    val deg = ed.groupBy(col("s").as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    // (node, d, _s): degree + seed flag in ONE node-sized checkpoint —
    // every contribution join reads it (pinned shuffle_hash: it is a
    // stats-less checkpoint scan, the g02 AQE-broadcast trap). FULL
    // join: an EDGELESS seed must not vanish — it keeps its base mass
    // (d = 0: it contributes nothing — its contrib divides by zero to
    // NULL and matches no edge — and receives nothing, but the caller
    // who listed it gets its row back, never a silent drop)
    val seeded = deg
      .join(seeds.select(col("node")).distinct()
        .select(col("node"), lit(1L).as("_s")), Seq("node"), "full")
      .select(col("node"), coalesce(col("d"), lit(0L)).as("d"),
        coalesce(col("_s"), lit(0L)).as("_s"))
      .localCheckpoint(true)
    // _acc = the damped-sum component only; full pr_i = 150000·_s + _acc
    // for i ≥ 1 (round 0's full score IS the init, no base to add)
    val acc0 = seeded.select(col("node"), (col("_s") * 1000000L).as("_acc"))
    // unpinned rounds: the PageRank-family lifecycle (see iterateRounds)
    val acc = iterateRounds(iters, acc0, pinEachRound = false) { (acc, r) =>
      // d = 0 only for an edgeless seed, whose contribution matches no
      // edge — the 0 branch exists to satisfy ANSI div, not semantics
      val cExpr =
        if (r == 1) "if(d > 0L, _acc div d, 0L)"
        else "if(d > 0L, (_s * 150000L + _acc) div d, 0L)"
      val contrib = acc.join(seeded.hint("shuffle_hash"), "node")
        .select(col("node"), expr(cExpr).as("c"))
        .hint("shuffle_hash")
      ed.join(contrib, ed("s") === contrib("node"))
        .groupBy(col("t").as("node"))
        .agg(sum(col("c")).as("s_in"))
        .select(col("node"), expr("(85L * s_in) div 100L").as("_acc"))
    }
    // LEFT from seeded: a node with no incoming contribution (an
    // edgeless seed — every edge endpoint has incoming on an
    // undirected graph) still closes with its base term
    seeded.join(acc.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"),
        expr("_s * 150000L + coalesce(_acc, 0L)").as("pr"))
  }

  /** Per-node local clustering coefficient over an undirected (u < v,
    * distinct) edge list: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) where
    * T(v) is the number of triangles through v — the node-level "how
    * clique-like is my neighbourhood" profile the global census (g01)
    * aggregates away (Watts–Strogatz 1998). Emitted as the exact
    * integer `lcc_x1e6` = (2·T·10⁶) div (deg·(deg−1)) — one floor
    * division of exact longs, hash-exact in any engine; deg-1 nodes
    * get 0 (no possible wedge, the conventional value).
    *
    * Scale shape: rides the SAME degree-oriented engine as
    * [[triangleCount]] — oriented adjacency sets bounded at O(√2m)
    * per node regardless of hub degree, one exploded-edge join, and
    * the per-edge common-out-neighbour set computed by the codegen'd
    * sorted intersection. The only addition over the census is
    * ATTRIBUTION: each closed triangle {u, v, w} (found once, on its
    * unique counting edge u→v) credits all three corners — per
    * (counting edge, witness w) row, ONE `explode(array(u, v, w))` of
    * three unit credits folded by a node-keyed count-agg (a 3-branch
    * union would re-execute the intersection join per branch —
    * plan-audited: 3 ShuffledHashJoins for one logical join; the old
    * size()+transform() form put two CodegenFallback lambdas on the
    * per-wedge path). Credit volume is 3T rows into one node-keyed
    * hash-agg with map-side combine — linear in triangles, never a
    * wedge materialization. Overflow: 2·T(v)·10⁶
    * needs
    * T(v) < 4.6·10¹²; T(v) ≤ C(deg, 2), so any deg ≤ 3·10⁶ node is
    * exact — the pageRank documented-not-defended contract.
    * Returns (node, degree, n_triangles, lcc_x1e6). */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val adj = orient(edges.select(col("u"), col("v")))
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("_nbrs"))
      .localCheckpoint(true)
    // per (counting edge, witness) row: THREE unit corner credits —
    // u, v, w — summing to the same per-node triangle count as the old
    // size()+transform() form, with no higher-order lambda on the path
    // (transform() is CodegenFallback — interpreted per wedge row; the
    // round-13 edgeSupportInner measurement, same engine)
    val credits = adj
      .select(col("src").as("_u"), col("_nbrs").as("_nu"),
        explode(col("_nbrs")).as("_v"))
      .join(adj.select(col("src").as("_sv"), col("_nbrs").as("_nv"))
        .hint("shuffle_hash"), col("_v") === col("_sv"))
      .select(col("_u"), col("_v"),
        explode(array_intersect(col("_nu"), col("_nv"))).as("_w"))
      .select(explode(array(col("_u"), col("_v"), col("_w"))).as("node"))
    val tri = credits.groupBy(col("node")).agg(count(lit(1)).as("_t"))
    degrees(edges)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("_t"), lit(0L)).as("n_triangles"))
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
          expr("(2L * n_triangles * 1000000L) div (degree * (degree - 1L))"))
          .otherwise(lit(0L)).as("lcc_x1e6"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, the deterministic synchronous variant): lbl_0(v) = v;
    * each round every node adopts the most frequent label among its
    * neighbours' PREVIOUS-round labels, ties broken by smallest label
    * — a total order, so the whole run is deterministic and an oracle
    * can unroll it round for round (the g02 rule; the classic
    * ASYNCHRONOUS variant with random visit order is deliberately not
    * offered: its output is an RNG artifact no second engine can
    * reproduce). `rounds` is part of the CONTRACT, not a convergence
    * budget — synchronous LPA can 2-cycle on bipartite structures, so
    * "run to fixpoint" is not well-defined; a fixed even/odd horizon
    * is, and both engines run exactly `rounds`.
    *
    * Communities differ from [[connectedComponents]]: a bridge edge
    * joins two cliques into one COMPONENT, but each clique's internal
    * majority vote keeps its own label — density, not reachability.
    *
    * Scale shape: per round one pinned shuffle-hash join of the edge
    * list against the n-row label frame (the g02 stats-less-checkpoint
    * AQE trap), one (node, label) count agg, one per-node min-struct
    * agg — all keyed exchanges, volume ≤ 2m rows, no pair formation;
    * each round localCheckpoints (constant plan size). Round 1 is
    * FOLDED to a single min agg over the edge list (identity labels ⇒
    * every vote count is 1 ⇒ argmax = min neighbour id), so the init
    * frame, the round-1 join and the round-1 vote count never run. A node's vote
    * multiset is its degree, so hub cost is degree-linear, never
    * quadratic — hot keys funnel the (node, label) agg exactly like a
    * groupBy on a skewed key, which partial aggregation absorbs.
    * Output: (node, community) for every edge endpoint. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    // Round 1 folded to ONE aggregate (the dupClusters seed-a-hop-ahead /
    // HITS outdegree·10⁶ precedent): with lbl_0 = identity, every
    // neighbour's vote is a DISTINCT label with count exactly 1 (the
    // edge list is distinct undirected pairs — the (u, v) contract), so
    // the argmax by (count desc, label asc) degenerates to the minimum
    // neighbour id. No init frame, no round-1 join, no round-1 vote
    // count — label values identical round for round (spec-pinned:
    // "after round 1 every label is the min neighbour id").
    val lbl1 = ed.groupBy(col("t").as("node")).agg(min(col("s")).as("lbl"))
      .localCheckpoint(true)
    val lbl = iterateRounds(rounds - 1, lbl1, pinEachRound = true) { (lbl, _) =>
      ed.join(lbl.withColumnRenamed("node", "s").hint("shuffle_hash"), "s")
        .groupBy(col("t").as("node"), col("lbl"))
        .agg(count(lit(1)).as("_c"))
        // argmax by (count desc, label asc) as one min-struct agg —
        // no per-node window, no second shuffle beyond the node key
        .groupBy(col("node"))
        .agg(min(struct((-col("_c")).as("_nc"), col("lbl").as("_l"))).as("_m"))
        .select(col("node"), col("_m._l").as("lbl"))
    }
    lbl.select(col("node"), col("lbl").as("community"))
  }

  /** [[pageRank]] over a WEIGHTED undirected edge list (u, v, w) —
    * the TextRank/co-occurrence form (Mihalcea & Tarau 2004), where an
    * edge observed k times should pull k times the mass of one seen
    * once. Exact integer micros: contribution of s along an edge of
    * weight w is (pr(s) · w) div wdeg(s) with wdeg = Σ incident
    * weights, then pr' = 150000 + (85 · Σ in) div 100 — every op a
    * long op, so the oracle unrolls the rounds as CTEs hash-exact.
    * With all weights 1 this IS pageRank bit for bit ((pr · 1) div
    * deg = pr div deg) — spec-asserted.
    *
    * Scale shape: pageRank's, with the per-NODE division becoming a
    * per-EDGE multiply-divide (weights differ per edge, so the
    * division cannot be hoisted): per round one pinned shuffle-hash
    * join of the 2m-row edge list against the n-row (pr, wdeg) frame
    * and one incoming-sum exchange. Overflow: each term is
    * pr(s) · w < 2⁶³, i.e. max pr × max weight ≤ 9.2·10¹⁸ — mass
    * conservation keeps Σ pr ≈ 10⁶ · n, so this binds only when one
    * node concentrates the graph's whole mass AND carries a ≥10⁶-count
    * edge; cap upstream weights if both can hold (the linkPrediction
    * documented-not-defended rule). */
  def pageRankWeighted(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val ed = edges.select(col("u").as("s"), col("v").as("t"), col("w"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t"), col("w")))
      .localCheckpoint(true)
    val wdeg = ed.groupBy(col("s").as("node")).agg(sum(col("w")).as("wd"))
      .localCheckpoint(true)
    def round(prw: DataFrame): DataFrame =
      ed.join(prw, "s")
        .select(col("t"), expr("(pr * w) div wd").as("_c"))
        .groupBy(col("t").as("node"))
        .agg(sum(col("_c")).as("s_in"))
        .select(col("node"), expr("150000L + (85L * s_in) div 100L").as("pr"))
    // Round 1 folded (the pageRank fold): pr₀ is the constant 10⁶ on
    // exactly wdeg's node universe, so the round-1 (pr₀ ⋈ wdeg) join is
    // a self-join of wdeg — fold the constant into the frame instead.
    val pr1 = round(wdeg.select(col("node").as("s"), col("wd"),
      lit(1000000L).as("pr")).hint("shuffle_hash"))
    // unpinned rounds: the PageRank-family lifecycle (see iterateRounds)
    iterateRounds(iters - 1, pr1, pinEachRound = false) { (pr, _) =>
      round(pr.join(wdeg, "node")
        .withColumnRenamed("node", "s").hint("shuffle_hash"))
    }
  }

  /** Deterministic uniform random walks — the node2vec/DeepWalk corpus
    * generator (one walk per node, `steps` hops), with the repo's
    * content-keyed-randomness rule in place of RNG state: the step-i
    * choice at node v is neighbour number md5(walk_id ":" i) mod
    * deg(v) over v's neighbours ranked by id. Same corpus in, same
    * walks out, on any cluster at any parallelism — and a DuckDB
    * oracle replays every hop (no seed to ship, no partition-order
    * dependence, the d12/d18 sampling rule applied to graph walks).
    *
    * Scale shape: the adjacency is ranked ONCE (per-node window — the
    * partition is a node's edge list, bounded by max degree; the
    * GuardRails unpartitioned-window rejection does not apply) and
    * checkpointed; each hop is two n-row keyed joins (frontier ×
    * degree, then × adjacency on (node, rank) — both equi-joins,
    * pinned shuffle-hash against the stats-less checkpoint). Walks
    * never leave the executor plane; output is (walk_id, step, node)
    * rows, n · (steps+1) total. */
  def randomWalks(edges: DataFrame, steps: Int = 3): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    import org.apache.spark.sql.expressions.Window
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
    val adj = ed
      .withColumn("idx", row_number()
        .over(Window.partitionBy(col("s")).orderBy(col("t")))
        .cast("long") - 1L)
      .localCheckpoint(true)
    val deg = adj.groupBy(col("s").as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val frontier0 = deg
      .select(col("node").as("walk_id"), lit(0).as("step"), col("node"))
    // state = (frontier, emitted-so-far); the frontier pins per round
    // (next round's join re-reads it), the union accumulator stays lazy
    val (_, out) = iterateRoundsState(steps, (frontier0, frontier0)) {
      case ((frontier, acc), i) =>
        val mask = lit((1L << 52) - 1)
        // both joins build the NODE-sized side and stream the bigger one
        // (the g02 rule, learned again at the 100× corpus: the first
        // draft hinted shuffle_hash on the EDGE-sized adjacency, and a
        // 2m-row build side is n·deg rows per partition — the per-task
        // hash map blew past execution memory exactly where a 1000-
        // executor cluster would die too; the frontier is n rows at any
        // scale, so IT is the hash side).
        // Hop 1 folded (the pageRank round-1 rule): frontier₀ IS deg's
        // node universe with walk_id = node, so the hop-1 pick join is
        // a self-join of deg — compute the pick as a projection of deg.
        val pick = if (i == 1)
          deg.select(col("node").as("walk_id"), col("node"),
            (graft.functions.TextHashExpressions
              .md5Upper(concat_ws(":", col("node"), lit(i)))
              .bitwiseAND(mask) % col("d")).as("_pick"))
        else frontier
          .join(deg.withColumnRenamed("node", "_n").hint("shuffle_hash"),
            col("node") === col("_n"))
          .select(col("walk_id"), col("node"),
            (graft.functions.TextHashExpressions
              .md5Upper(concat_ws(":", col("walk_id"), lit(i)))
              .bitwiseAND(mask) % col("d")).as("_pick"))
        val next = pick.hint("shuffle_hash")
          .join(adj, pick("node") === adj("s") && pick("_pick") === adj("idx"))
          .select(col("walk_id"), lit(i).as("step"), col("t").as("node"))
          .localCheckpoint(true)
        (next, acc.unionByName(next))
    }
    out
  }

  /** HyperBall (Boldi & Vigna 2013): per-node estimate of the r-hop
    * ball size |{u : dist(u, v) ≤ r}| via iterated HLL register
    * max-merge — THE published way to compute neighbourhood functions
    * / effective diameters on graphs too big for per-node BFS.
    * PACKED registers: each node's ball sketch is ONE wide row of 2^p
    * INT register columns (same md5 ladder as
    * [[Sketches.registersByGroup]], so the estimate is oracle-exact),
    * and a round is regs' = per-register max of (own row ∪ rows
    * shipped along every edge) — union + one 2^p-max hash-agg.
    * Because register max IS set union, after r rounds a node's
    * registers equal those of its TRUE r-ball built directly — exact
    * equality, spec-asserted against [[neighborhoodSizesRows]], the
    * sparse row-form twin this packed walk replaced (row form shipped
    * 2m·2^p rows per round; this ships 2m — the 16× shuffle-row cut
    * at p = 4 on the repo's two heaviest 100× queries).
    *
    * Scale shape: per round one pinned shuffle-hash join of the 2m
    * edge list against the n-row packed register table and one keyed
    * 2^p-column max-agg — volume 2m wide rows, linear in edges, NO
    * pair formation, map-side partial agg pre-merging each task's
    * slice of a hub's incoming registers; p trades estimate error
    * (±1.04/√2^p) against row width. Output:
    * (node, ball_est: double round 6). */
  def neighborhoodSizes(edges: DataFrame, radius: Int = 2, p: Int = 4): DataFrame = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    // unpinned: packedRound owns its own lifecycle (see its scaladoc);
    // round 1 folded — no init frame, no round-1 join (packedRound1)
    val regs = iterateRounds(radius - 1, packedRound1(ed, p),
      pinEachRound = false)((r, _) => packedRound(ed, r, p))
    packedEstimate(regs, p, "ball_est").select(col("node"), col("ball_est"))
  }

  /** Sparse row-form twin of [[neighborhoodSizes]] — the original
    * (node, _reg, _M)-rows register walk, kept as the cross-check the
    * spec asserts the packed form bit-equals (two independent
    * representations of the same Boldi–Vigna recurrence; the oracle
    * replays the arithmetic a third way in SQL). Ships up to 2^p rows
    * per node per round where the packed form ships one — use the
    * front door, this exists to certify it. */
  def neighborhoodSizesRows(edges: DataFrame, radius: Int = 2,
      p: Int = 4): DataFrame = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    val nodes = ed.select(col("s").as("node")).distinct()
    val regs0 = Sketches.registersByGroup(
        nodes.select(col("node"), col("node").as("_k")), "_k", p, Seq("node"))
      .localCheckpoint(true)
    val regs = iterateRounds(radius, regs0, pinEachRound = true) { (regs, _) =>
      regs
        .unionByName(ed
          .join(regs.withColumnRenamed("node", "s").hint("shuffle_hash"), "s")
          .select(col("t").as("node"), col("_reg"), col("_M")))
        .groupBy(col("node"), col("_reg"))
        .agg(max(col("_M")).as("_M"))
    }
    Sketches.estimateRegistersBy(regs, Seq("node"), p, "ball_est")
  }

  /** PACKED HyperBall register state: one row per node, 2^p INT
    * columns _m0.._m{2^p−1} (0 = absent register, else the rho value
    * of [[Sketches.registersByGroup]]'s _M — same md5 ladder, same
    * arithmetic). The row-form walk ships ≤ 2^p (node, reg, M) rows
    * per edge per round; this ships ONE wide row per edge — a 16×
    * shuffle-ROW cut at p = 4 (measured: g14/g17 were the repo's two
    * heaviest 100× absolutes, 425 s / 342 s, on row volume alone) —
    * and the round merge is 2^p plain MAX aggregates in one hash-agg:
    * whole-stage-codegen'd, map-side partially aggregated (each map
    * task pre-merges its slice of a hub's incoming registers — the
    * row form's (node, reg) grain left partial agg 16× less to bite
    * on). Wide columns over a binary blob on purpose: byte-wise max
    * over binary needs a custom aggregate; per-column max is native
    * Catalyst all the way down. p ≤ 6 keeps the row ≤ 64 columns. */
  private def packedInit(ed: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 6, s"packed registers support p in [4,6], got $p")
    packedInitCols(ed.select(col("s").as("node")).distinct(), "node", p)
      .localCheckpoint(true)
  }

  /** Append the 2^p packed INIT register columns _m0.._m{2^p−1} of
    * `idCol` to `df` — the md5 ladder of [[packedInit]] as pure
    * per-row expressions (two staged projections so the hash and the
    * (reg, w) split each evaluate once per row). A node's init
    * registers are a pure function of its id; [[packedRound1]] exploits
    * exactly that. */
  private def packedInitCols(df: DataFrame, idCol: String, p: Int): DataFrame = {
    val m = 1 << p
    val rhoMax = 53 - p
    val keep = df.columns.filterNot(_ == idCol).map(col).toSeq
    val hp = graft.functions.TextHashExpressions
      .md5Upper(col(idCol).cast("string"))
      .bitwiseAND(lit((1L << 52) - 1))
    val rho = when(col("_w") === 0L, lit(rhoMax))
      .otherwise(lit(rhoMax) - length(bin(col("_w"))))
    df.select((col(idCol) +: keep) :+
        hp.bitwiseAND(lit((m - 1).toLong)).as("_reg") :+
        shiftright(hp, p).as("_w"): _*)
      .select((col(idCol) +: keep) ++ (0 until m).map(j =>
        when(col("_reg") === j, rho).otherwise(lit(0))
          .cast("int").as(s"_m$j")): _*)
  }

  /** One HyperBall round over packed registers: regs' =
    * per-register max of (own regs ∪ regs shipped along every edge).
    * One pinned shuffle-hash join (build = the n-row register frame,
    * the g02/g13 node-sized-build rule) + one 2^p-column max agg. */
  private def packedRound(ed: DataFrame, regs: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    val cols = (0 until m).map(j => s"_m$j")
    regs
      .unionByName(ed
        .join(regs.withColumnRenamed("node", "s").hint("shuffle_hash"), "s")
        .select((col("t").as("node") +: cols.map(col)): _*))
      .groupBy(col("node"))
      .agg(max(col(cols.head)).as(cols.head),
        cols.tail.map(c => max(col(c)).as(c)): _*)
      .localCheckpoint(true)
  }

  /** Round 1 of the packed walk, FOLDED (the LPA/pageRank round-1
    * rule applied to registers): r₁(v) = max(init(v), max_{s~v}
    * init(s)) and init is a PURE FUNCTION of the node id, so the
    * neighbour's registers are computed inline from the edge row and
    * the node's own init registers merge as a projection over the
    * group key after the max-agg — one agg total; the init frame's
    * distinct+checkpoint, its join-side exchange and the round-1 join
    * never run. Register values identical to
    * packedRound(ed, packedInit(ed, p), p): elementwise
    * max(own ∪ neighbours) either way (spec-asserted against the
    * row-form walk). */
  private def packedRound1(ed: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 6, s"packed registers support p in [4,6], got $p")
    val m = 1 << p
    val nbrMax = packedInitCols(ed.select(col("t").as("node"), col("s")), "s", p)
      .drop("s")
      .groupBy(col("node"))
      .agg(max(col("_m0")).as("_x0"),
        (1 until m).map(j => max(col(s"_m$j")).as(s"_x$j")): _*)
    packedInitCols(nbrMax, "node", p)
      .select((col("node") +: (0 until m).map(j =>
        greatest(col(s"_x$j"), col(s"_m$j")).as(s"_m$j"))): _*)
      .localCheckpoint(true)
  }

  /** Per-node estimate from packed registers — the SAME integer-exact
    * arithmetic as [[Sketches.estimateRegistersBy]] (bit-identical
    * output, spec-asserted): _s = Σ_j 2^(rhoMax−M_j) with absent
    * (M_j = 0) contributing 2^rhoMax, an order-free integer sum;
    * one IEEE division in `raw`; the standard small-range correction.
    * A narrow zero-shuffle projection — the row form needed a
    * (node, reg)-grain agg here. */
  private def packedEstimate(regs: DataFrame, p: Int, as: String): DataFrame = {
    val m = 1 << p
    val rhoMax = 53 - p
    val terms = (0 until m).map(j =>
      expr(s"shiftleft(CAST(1 AS BIGINT), CAST($rhoMax - _m$j AS INT))"))
    val zeros = (0 until m).map(j =>
      when(col(s"_m$j") === 0, lit(1L)).otherwise(lit(0L)))
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val raw = lit(alpha) * lit(m.toDouble) * lit(m.toDouble) *
      lit(math.pow(2.0, rhoMax)) / col("_s")
    regs
      .select(col("node"),
        terms.reduce(_ + _).as("_s"),
        zeros.reduce(_ + _).as("_zeros"))
      .select(col("node"), round(
        when(raw <= lit(2.5 * m) && col("_zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("_zeros")))
          .otherwise(raw), 6).as(as))
  }

  /** The neighbourhood FUNCTION N(r) = Σ_v |ball(v, r)| for
    * r = 0..maxRadius — THE HyperBall application (Boldi & Vigna 2013):
    * the curve whose growth profile gives effective diameter and spid,
    * the dataset-card "how fast does reach saturate" answer that
    * [[neighborhoodSizes]]'s single-radius per-node rows do not roll
    * up. Same register walk; after every round the per-node estimates
    * fold into one corpus row. Determinism: per-node estimates are the
    * round-6 doubles of the q59 portable ladder (bit-identical on both
    * engines), and the corpus fold quantizes each to exact integer
    * MICROS before summing — a float Σ over n nodes would be
    * addition-order-dependent, the t10 rule. Returns
    * (radius, nf_x1e6: long), maxRadius+1 rows.
    *
    * Scale shape: [[neighborhoodSizes]]'s per round (one pinned
    * shuffle-hash edge join + keyed max-agg, ≤ 2m·2^p rows) plus one
    * bounded one-row aggregate per radius. */
  def neighborhoodFunction(edges: DataFrame, maxRadius: Int = 3,
      p: Int = 4): DataFrame = {
    require(maxRadius >= 1, s"maxRadius must be >= 1, got $maxRadius")
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    def nfRow(r: Int, rg: DataFrame): DataFrame =
      packedEstimate(rg, p, "ball_est")
        .agg(sum(expr("CAST(round(ball_est * 1000000) AS BIGINT)"))
          .as("nf_x1e6"))
        .select(lit(r.toLong).as("radius"), col("nf_x1e6"))
    val regs0 = packedInit(ed, p)
    // state = (registers, curve-so-far); packedRound pins internally.
    // regs0 stays — the radius-0 curve row reads it — but round 1 is
    // folded (packedRound1): the round-1 join never runs.
    val (_, out) = iterateRoundsState(maxRadius, (regs0, nfRow(0, regs0))) {
      case ((regs, acc), r) =>
        val next = if (r == 1) packedRound1(ed, p) else packedRound(ed, regs, p)
        (next, acc.unionByName(nfRow(r, next)))
    }
    out
  }

  /** HARMONIC centrality estimates from the HyperBall register walk
    * (Boldi & Vigna, "In-Core Computation of Geometric Centralities
    * with HyperBall", 2014): H(v) = Σ_u 1/d(u,v) ≈
    * Σ_{r=1..R} (|ball(v,r)| − |ball(v,r−1)|)/r — the centrality that,
    * unlike closeness, is well-defined on disconnected graphs
    * (unreachable nodes contribute 0, not a broken ∞ mean) and needs
    * NO all-pairs BFS: one register walk serves every node at once.
    *
    * Determinism: per-round per-node estimates are the q59 portable
    * ladder (bit-identical doubles on both engines), each quantized to
    * exact integer MICROS before the per-radius increment, and the
    * increment's 1/r is a floor division of those longs — so the
    * accumulated harmonic_x1e6 is exact integer arithmetic after the
    * one pinned rounding per (node, radius), and the oracle unrolls it
    * cell-exact. The truncation at R underestimates far mass by design
    * (contributions past R are < ball growth / R — the standard
    * HyperBall horizon contract, same R semantics as g14/g17).
    *
    * Scale shape: [[neighborhoodSizes]]'s packed walk (per round one
    * pinned shuffle-hash edge join + one 2^p-column max-agg, ≤ 2m rows
    * shipped) plus per round one n-row node-keyed join folding the
    * increment — linear in edges per round, no pair formation. */
  def harmonicCentrality(edges: DataFrame, maxRadius: Int = 3,
      p: Int = 4): DataFrame = {
    require(maxRadius >= 1, s"maxRadius must be >= 1, got $maxRadius")
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    def micros(rg: DataFrame, as: String): DataFrame =
      packedEstimate(rg, p, "_e")
        .select(col("node"), expr("CAST(round(_e * 1000000) AS BIGINT)").as(as))
    val regs0 = packedInit(ed, p)
    val acc0 = micros(regs0, "_prev")
      .select(col("node"), col("_prev"), lit(0L).as("_h"))
    // state = (registers, accumulated harmonic); the accumulator pins
    // per round (next round's join re-reads it), packedRound pins itself
    // regs0 stays (the radius-0 accumulator seed reads it) but round 1
    // is folded (packedRound1): the round-1 join never runs
    val (_, acc) = iterateRoundsState(maxRadius, (regs0, acc0)) {
      case ((regs, acc), r) =>
        val next = if (r == 1) packedRound1(ed, p) else packedRound(ed, regs, p)
        val folded = acc.join(micros(next, "_cur"), "node")
          // ball growth clamped at 0: the estimator is monotone except at
          // its correction→raw branch switch, where a small negative jump
          // is possible — a negative "contribution" is meaningless AND
          // Spark's div (toward zero) disagrees with SQL floor division
          // on negatives, so the clamp pins semantics and determinism
          .select(col("node"), col("_cur").as("_prev"),
            (col("_h") + expr(s"greatest(0L, _cur - _prev) div ${r}L")).as("_h"))
          .localCheckpoint(true)
        (next, folded)
    }
    acc.select(col("node"), col("_h").as("harmonic_x1e6"))
  }

  /** Per-edge triangle SUPPORT of a canonical (u < v, distinct) edge
    * list: support(u,v) = #triangles containing the edge — the edge
    * statistic [[kTruss]] peels on, factored out so its plan is
    * testable alone. Rides the g01/g10 degree-oriented intersection
    * engine (adjacency arrays bounded O(√2m) regardless of hub
    * degree); each triangle found once at its counting edge credits
    * its THREE undirected edges from one explode of a per-edge credit
    * array (the g10 corner-credit pattern applied to edges instead of
    * nodes), then one (u,v)-keyed hash-agg folds the 3T credit rows.
    * Edges in no triangle come back support 0 via the left join —
    * peeling needs them visible, not absent. */
  def edgeSupport(edges: DataFrame): DataFrame =
    edges.select(col("u"), col("v"))
      .join(edgeSupportInner(edges), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))

  /** [[edgeSupport]] restricted to edges with support ≥ 1 — the form
    * [[kTruss]] peels on (its k−2 ≥ 1 filter drops support-0 edges
    * anyway, so the per-round left join back onto the full survivor
    * list is pure waste there — one |E|-row join per peel round,
    * measured 0.6 s/round at sf0.1).
    *
    * Credit emission is lambda-free (round-13 optimization, guide §4):
    * the old form built the three credit classes with two
    * `transform()` higher-order lambdas — CodegenFallback, i.e. an
    * interpreted expression per wedge row that also breaks the
    * whole-stage-codegen span around it. Instead each (wedge, witness)
    * row from the explode emits THREE unit credits — the counting edge
    * (u,v), and the two witness edges (u,w), (v,w) — whose count-agg
    * folds to the identical per-edge support (the counting edge
    * collects |ws| units across its witnesses instead of one |ws|-sized
    * credit). Every expression on the path is codegen'd; measured
    * 4.23 s → 2.94 s for one full-graph pass at sf0.1/32c. */
  private def edgeSupportInner(edges: DataFrame): DataFrame =
    edgeSupportOriented(orient(edges.select(col("u"), col("v"))))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), col("support"))

  /** Support per ORIENTED edge of an already-DAG-oriented (src, dst)
    * list. Every credit pair is known in oriented form for free — the
    * counting edge IS (src→dst), and a witness w ∈ N⁺(src) ∩ N⁺(dst)
    * gives oriented (src→w), (dst→w) — and each undirected edge has
    * exactly one oriented form, so grouping by (src, dst) is grouping
    * by the edge: no least/greatest in the per-credit path, and a
    * caller that keeps oriented state (the kTruss peel) can filter and
    * re-feed the survivors without re-deriving degrees or re-orienting
    * each round. Returns (src, dst, support ≥ 1). */
  private def edgeSupportOriented(oriented: DataFrame): DataFrame = {
    val adj = oriented
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("_nbrs"))
      .localCheckpoint(true)
    adj
      .select(col("src").as("_u"), col("_nbrs").as("_nu"),
        explode(col("_nbrs")).as("_v"))
      .join(adj.select(col("src").as("_sv"), col("_nbrs").as("_nv"))
        .hint("shuffle_hash"), col("_v") === col("_sv"))
      .select(col("_u"), col("_v"),
        explode(array_intersect(col("_nu"), col("_nv"))).as("_w"))
      .select(explode(array(
        struct(col("_u").as("src"), col("_v").as("dst")),
        struct(col("_u").as("src"), col("_w").as("dst")),
        struct(col("_v").as("src"), col("_w").as("dst")))).as("_cr"))
      .select(col("_cr.src").as("src"), col("_cr.dst").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("support"))
  }

  /** k-truss extraction (Cohen 2008): the maximal subgraph in which
    * every EDGE sits in ≥ k−2 triangles of the subgraph — the
    * edge-level cohesion ladder where [[kCore]] is the node-level one
    * (a k-core keeps a hub attached to k spokes; a k-truss demands the
    * hub's neighbours also know each other — the community-core shape
    * entity-resolution trusts over raw degree). Iterative peel:
    * support via [[edgeSupport]], drop edges under k−2, recompute on
    * the survivors, to fixpoint. `maxIter` is a CONTRACT like g07's:
    * strict-throw on budget exhaustion (a silently-partial truss is
    * worse than failure), and rounds past fixpoint are idempotent —
    * peeling only removes, so a DuckDB oracle can unroll exactly
    * `maxIter` rounds and match the early-stopping engine hash-exact.
    *
    * Scale shape: each round is one [[edgeSupport]] pass — the g01
    * O(m·√m) intersection bound, 3T credit rows, all keyed exchanges,
    * no pair formation beyond the orientation-bounded wedges — over a
    * localCheckpointed survivor list (constant plan size across
    * rounds, the kCore/dupClusters rule). Returns the surviving edges
    * with their in-truss support: (u, v, support). */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 10,
      strict: Boolean = true): DataFrame = {
    require(k >= 3, s"k must be >= 3 for a non-trivial truss, got $k")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // Orient ONCE from the original degrees (round-13 optimization):
    // (deg, id) is a fixed total order, so every survivor subgraph
    // stays a DAG under it and the intersection engine's counts stay
    // exact — re-orienting per round paid one degree agg plus two
    // degree joins per peel round for nothing. State stays ORIENTED
    // between rounds ([[edgeSupportOriented]]) so survivors re-feed
    // the next round without canonicalization or joins; k ≥ 3 makes
    // the threshold ≥ 1, so dropping the old full-survivor-list left
    // join (support-0 edges) changes nothing the filter kept.
    val or0 = orient(edges.select(col("u"), col("v"))).localCheckpoint(true)
    val kept = iterateToFixpoint(maxIter, strict, "kTruss",
        or0.withColumn("support", lit(0L)))(_.count()) { kept =>
      edgeSupportOriented(kept.select(col("src"), col("dst")))
        .where(col("support") >= lit((k - 2).toLong))
    }
    kept.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"), col("support"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over every directed STUB (both orientations of
    * each undirected edge — the standard stub convention, which makes
    * the coefficient symmetric without a half-weight). One number with
    * a dataset-card reading: r > 0 = hubs attach to hubs (social
    * shape), r < 0 = hubs attach to leaves (star/dependency shape) —
    * the profile statistic that says whether degree-targeted caps
    * (g09's center cap, the LSH bucket caps) will bite on this graph.
    *
    * Determinism: the five moments are exact long sums over 2m stubs
    * (degree ≤ n < 2³¹ keeps x·y < 2⁶³ for any real corpus); the
    * final Pearson form is IEEE ops over double-cast exact longs (the
    * q58/d43 overflow pattern — identical on both engines). Degenerate
    * case pinned by contract: on a degree-regular graph both variance
    * terms are 0 and the quotient is 0/0 — Spark doubles say NaN,
    * DuckDB says NULL — so r is explicitly NULL when EITHER variance
    * term is 0 (correlation is undefined with a constant variable),
    * and the oracle pins the same CASE. Returns one row
    * (n_stubs, r round 6, NULL if undefined).
    *
    * Scale shape: one degree agg + two broadcast-or-shuffle joins of
    * the n-row degree frame onto the edge list + one grouping-free
    * fold. No pair formation, no iteration. The edge list pins eagerly
    * (it feeds the degree agg AND both moment joins; unpinned, a
    * lazily-built caller frame re-derived six times — plan-audited 12
    * scans on g18) and so does the n-row degree frame (both joins read
    * it). The moments fold over the m-row edge list with each edge
    * contributing BOTH its stubs — (du,dv) and (dv,du) — as doubled
    * per-row terms: half the joined volume of a materialized 2m stub
    * union, identical exact-long sums (sx = sy and sxx = syy by stub
    * symmetry, which the doubled form makes literal). */
  def assortativity(edges: DataFrame): DataFrame = {
    val ed = edges.select(col("u"), col("v")).localCheckpoint(true)
    val deg = degrees(ed).localCheckpoint(true)
    ed
      .join(deg.select(col("node").as("u"), col("deg").as("_x")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("_y")), "v")
      .agg((count(lit(1)) * 2L).as("n_stubs"),
        sum(col("_x") + col("_y")).as("sx"),
        sum(col("_x") + col("_y")).as("sy"),
        sum(lit(2L) * col("_x") * col("_y")).as("sxy"),
        sum(col("_x") * col("_x") + col("_y") * col("_y")).as("sxx"),
        sum(col("_x") * col("_x") + col("_y") * col("_y")).as("syy"))
      .select(col("n_stubs"),
        (col("n_stubs").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")).as("_vx"),
        (col("n_stubs").cast("double") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")).as("_vy"),
        (col("n_stubs").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")).as("_cov"))
      .select(col("n_stubs"),
        when(col("_vx") === 0.0 || col("_vy") === 0.0,
          lit(null).cast("double"))
          .otherwise(round(
            col("_cov") / (sqrt(col("_vx")) * sqrt(col("_vy"))), 6))
          .as("assortativity"))
  }

  /** Multi-source BFS hop distances: dist(v) = min hops from any seed,
    * explored to exactly `radius` rounds — the reachability-level /
    * proximity primitive (expand a dup-cluster seed set outward, "how
    * far is everything from the flagged nodes"). `radius` is the
    * CONTRACT (the g14 rule): nodes beyond it are absent, not ∞, and
    * both engines run the same horizon. Seeds are a DataFrame (a seed
    * set can be millions of rows — the g11 rule); a seed not in the
    * graph still reports dist 0 (it IS zero hops from itself — the
    * caller's seed echo, spec-pinned).
    *
    * Scale shape: per round one pinned shuffle-hash join of the 2m
    * edge list against the frontier-so-far and one node-keyed min-agg
    * — volume ≤ 2m rows/round, linear in edges, the g14 register walk
    * with MIN(dist) in place of register max; each round
    * localCheckpoints (constant plan size). Returns (node, dist). */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      radius: Int = 4): DataFrame = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    val dist0 = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    iterateRounds(radius, dist0, pinEachRound = true) { (dist, _) =>
      dist
        .unionByName(ed
          .join(dist.withColumnRenamed("node", "s").hint("shuffle_hash"), "s")
          .select(col("t").as("node"), (col("dist") + 1L).as("dist")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
    }
  }

  /** [[coOccurrenceEdges]] with the co-occurrence STRENGTH kept:
    * (u, v, w) where w = number of qualifying baskets containing both
    * items (u < v, one row per pair). Same basket-keyed expansion and
    * cap² bound; the only change is the final exchange aggregates a
    * count instead of deduplicating — identical shuffle volume.
    * The natural edge weight for [[ssspWeighted]] (inverse strength)
    * and for weighted community/centrality variants. */
  def coOccurrenceEdgesWeighted(items: DataFrame, basketCol: String,
      itemCol: String, maxBasketItems: Int = 64): DataFrame = {
    val baskets = items
      .where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .groupBy(col("_b"))
      .agg(sort_array(collect_set(col("_i"))).as("_items"))
      .where(size(col("_items")).between(2, maxBasketItems))
    baskets
      .select(posexplode(col("_items")).as(Seq("_iu", "u")), col("_items"))
      .select(col("u"), posexplode(col("_items")).as(Seq("_iv", "v")), col("_iu"))
      .where(col("_iv") > col("_iu"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
  }

  /** Multi-source WEIGHTED shortest paths — [[bfsDistances]] with the
    * hop increment replaced by the edge weight (Bellman-Ford relaxation
    * with a bounded round budget). After `rounds` rounds the answer is
    * EXACTLY "min total weight over paths of ≤ `rounds` edges from any
    * seed" — a well-defined deterministic contract whether or not the
    * true shortest paths have converged (the g16 radius semantics;
    * callers wanting full convergence set rounds ≥ the graph's hop
    * diameter). Weights are caller-supplied non-negative longs in the
    * `w` column of the undirected (u, v, w) edge list.
    *
    * Scale shape: identical to bfsDistances — per round one pinned
    * shuffle-hash join building the NODE-sized frontier against the
    * streamed 2m-row edge list (the g13 build-side rule) and one
    * node-keyed min-agg; each round localCheckpoints so the plan stays
    * constant-size. Volume ≤ 2m rows/round, no pair formation. */
  def ssspWeighted(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val ed = edges.select(col("u").as("s"), col("v").as("t"), col("w"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t"), col("w")))
      .localCheckpoint(true)
    val dist0 = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    iterateRounds(rounds, dist0, pinEachRound = true) { (dist, _) =>
      dist
        .unionByName(ed
          .join(dist.withColumnRenamed("node", "s").hint("shuffle_hash"), "s")
          .select(col("t").as("node"), (col("dist") + col("w")).as("dist")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
    }
  }

  /** Newman modularity (Newman & Girvan 2004, eq. 5) of a node
    * partition, per community and EXACT: for community c with m_c
    * intra-community edges and degree sum d_c over a graph of m edges,
    * Q = Σ_c [ m_c/m − (d_c/2m)² ] — reported as the integer numerator
    * q_num = 4·m·m_c − d_c² of each community's contribution over the
    * common denominator 4m² (Q = Σ q_num / 4m²), so the quality of a
    * community detection (g12's LPA, g04's components) is judged with
    * zero float drift and the oracle re-derives every cell.
    *
    * Scale shape: two joins of the m-row edge list against the
    * node-sized label frame (pinned shuffle_hash, build = labels — the
    * g02/g13 node-sized-build rule), then ONE community-keyed
    * aggregate over the exploded endpoints (degree_sum, n_nodes and
    * the intra tally all fold out of it; m = Σ degree_sum / 2 rides
    * the tiny aggregate output broadcast back by crossJoin — no
    * separate m or degree pass). Nothing quadratic, no windows;
    * community count bounds the output. Overflow: q_num < 4m² — binds at m ≥ 1.5·10⁹ edges
    * (≈ 2⁶³/4), far beyond a per-partition graph; shard the edge set
    * upstream before that (documented-not-defended, the linkPrediction
    * rule).
    *
    * `labels` must cover every edge endpoint (node, community) — the
    * labelPropagation/connectedComponents output contract. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val lbl = labels.select(col("node"), col("community"))
    // ONE labeled-edge pass (round-14 session 2): attach both endpoint
    // communities (two node-sized shuffle_hash joins, unchanged), then
    // explode the two endpoints and fold EVERYTHING out of a single
    // community-keyed aggregate — degree_sum = endpoint-row count,
    // n_nodes = distinct endpoints, and each INTRA edge contributes
    // exactly two endpoint rows to its own community, so
    // intra_edges = intra-row count div 2, exact. m never needs its
    // own pass: Σ_c degree_sum = 2m, so 4·m·m_c = (Σ degree_sum)·
    // (intra-row count)_c and q_num = Σd·i2_c − d_c² — all long
    // arithmetic, no division beyond the exact div 2. The previous
    // shape paid a separate edge-count pass for m, a degree pass
    // (endpoint explode + agg) + label join + second community
    // aggregate, and a left join + coalesce to fold zero-intra
    // communities back in; all of that now rides the intra frame.
    // Same coverage contract: labels must label every edge endpoint.
    val labeled = e
      .join(lbl.select(col("node").as("u"), col("community").as("_cu"))
        .hint("shuffle_hash"), "u")
      .join(lbl.select(col("node").as("v"), col("community").as("_cv"))
        .hint("shuffle_hash"), "v")
    val t = labeled
      .select(explode(array(
        struct(col("u").as("_n"), col("_cu").as("_c"), col("_cv").as("_co")),
        struct(col("v").as("_n"), col("_cv").as("_c"), col("_cu").as("_co"))))
        .as("_ep"))
      .select(col("_ep._c").as("community"), col("_ep._n").as("_n"),
        (col("_ep._c") === col("_ep._co")).as("_intra"))
      .groupBy(col("community"))
      .agg(countDistinct(col("_n")).as("n_nodes"),
        count(lit(1)).as("degree_sum"),
        sum(when(col("_intra"), lit(1L)).otherwise(lit(0L))).as("_i2"))
    val tot = t.agg(sum(col("degree_sum")).as("_sd"))
    t.crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"),
        expr("_i2 div 2").as("intra_edges"),
        col("degree_sum"),
        (col("_sd") * col("_i2") -
          col("degree_sum") * col("degree_sum")).as("q_num"))
  }

  /** Sampled, horizon-bounded BETWEENNESS centrality (Brandes 2001's
    * dependency accumulation, restricted to shortest paths of length
    * ≤ `radius` from the `sources` sample — the k-Betweenness /
    * bounded-distance variant of Brandes & Pich 2007): who brokers
    * the sample's short-range reach. Forward phase: level-synchronous
    * BFS keyed (src, node) accumulating path counts
    * σ(s,v) = Σ_{pred} σ(s,u); backward phase: dependency
    * δ(v) = Σ_{succ w} σ(v)·(10⁶ + δ(w)) div σ(w), accumulated
    * per-(v,w) in exact integer MICROS with one floor division per DAG
    * edge (the harmonicCentrality quantization discipline — order-free
    * because the per-edge terms are integers before the sum), so the
    * oracle unrolls both phases cell-exact. Returns (node, bc_micro)
    * summed over sources for every non-source node reached within the
    * horizon (frontier-`radius` nodes carry their 0 — the horizon
    * truncation is the contract, same R semantics as g14/g16/g17).
    *
    * Scale shape: per level one pinned shuffle-hash join of the 2m
    * edge list against the (sources × n)-bounded frontier (build =
    * frontier, the node-sized-build rule) + one (src, node) hash-agg +
    * one anti-join against the visited set; backward mirrors it once
    * per level. Sample size bounds everything linearly — this is the
    * published answer to betweenness's inherent all-pairs cost.
    * Overflow: σ·(10⁶+δ) binds when a node sits on ~2⁴³ shortest
    * paths of one source — cap the sample's horizon before that (the
    * linkPrediction documented-not-defended rule). */
  def betweennessSampled(edges: DataFrame, sources: DataFrame,
      radius: Int = 2): DataFrame = {
    require(radius >= 2, s"radius must be >= 2, got $radius")
    val ed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    val l0 = sources.select(col("node").as("src"))
      .distinct()
      .select(col("src"), col("src").as("node"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    // forward: levels(k) = (src, node, sigma), disjoint across k per src
    val levels = scala.collection.mutable.ArrayBuffer(l0)
    // state = visited (pinned per round — the anti-join re-reads it);
    // the per-level frames pin too and accumulate in the buffer the
    // backward phase folds in reverse
    iterateRoundsState(radius,
        l0.select(col("src"), col("node")).localCheckpoint(true)) { (visited, _) =>
      val next = ed
        .join(levels.last.withColumnRenamed("node", "s").hint("shuffle_hash"), "s")
        .select(col("src"), col("t").as("node"), col("sigma"))
        .join(visited.hint("shuffle_hash"), Seq("src", "node"), "left_anti")
        .groupBy(col("src"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .localCheckpoint(true)
      levels += next
      visited.unionByName(next.select(col("src"), col("node")))
        .localCheckpoint(true)
    }
    // backward: δ at the horizon is 0; level k folds its successors —
    // round r maps to level k = radius − r (the harness counts up, the
    // dependency walk runs down)
    val delta0 = levels(radius)
      .select(col("src"), col("node"), col("sigma"), lit(0L).as("delta"))
    val (_, out) = iterateRoundsState(radius - 1,
        (delta0, delta0.select(col("src"), col("node"), col("delta")))) {
      case ((delta, acc), r) =>
        val k = radius - r
        val succ = delta.select(col("src"), col("node").as("t"),
          col("sigma").as("_sw"), col("delta").as("_dw"))
        val folded = levels(k)
          .join(ed.join(succ.hint("shuffle_hash"), Seq("t"))
              .select(col("src"), col("s").as("node"), col("_sw"), col("_dw")),
            Seq("src", "node"), "left")
          .groupBy(col("src"), col("node"))
          .agg(first(col("sigma")).as("sigma"),
            coalesce(sum(expr("(sigma * (1000000L + _dw)) div _sw")), lit(0L))
              .as("delta"))
          .localCheckpoint(true)
        (folded, acc.unionByName(folded.select(col("src"), col("node"), col("delta"))))
    }
    out
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("bc_micro"))
  }

  /** EFFECTIVE DIAMETER (integer variant) off [[neighborhoodFunction]]'s
    * curve: the smallest radius r with N(r) ≥ ⌈0.9 · N(maxRadius)⌉ —
    * "how many hops cover 90% of the reach the horizon ever covers".
    * The textbook estimator interpolates between radii; this is the
    * non-interpolated integer variant (10·N(r) ≥ 9·N(R) — one exact
    * long comparison per radius, no float threshold to diverge), with
    * the horizon-relative denominator making the answer well-defined
    * on disconnected graphs. Returns ONE row:
    * (effective_diameter, nf_at_r, nf_max). Cost: g17's walk + a
    * (maxRadius+1)-row fold — nothing new moves. */
  def effectiveDiameter(edges: DataFrame, maxRadius: Int = 3,
      p: Int = 4): DataFrame = {
    val nf = neighborhoodFunction(edges, maxRadius, p).localCheckpoint(true)
    val top = nf.agg(max(when(col("radius") === maxRadius.toLong,
      col("nf_x1e6"))).as("_nfmax"))
    nf.crossJoin(broadcast(top))
      .where(lit(10L) * col("nf_x1e6") >= lit(9L) * col("_nfmax"))
      .orderBy(col("radius"))
      .limit(1)
      .select(col("radius").as("effective_diameter"),
        col("nf_x1e6").as("nf_at_r"), col("_nfmax").as("nf_max"))
  }
}
