package graft.ops

import graft.Tables
import graft.functions.PortableStringHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Triangle counting (round-4 graph-profile extension, §2.14 family):
  * per-node triangle participation over the part co-occurrence graph
  * (parts bought in the same order are neighbors — the classic
  * market-basket projection; the star graphs PageRank runs on are
  * bipartite and triangle-free by construction).
  *
  * Algorithm: degree-ordered edge orientation (the MapReduce
  * node-iterator of Suri & Vassilvitskii, WWW 2011 — also
  * `/root/reference` has no graph analytics beyond PageRank, so this
  * is pure extension surface). Each undirected edge points from its
  * lower-(degree, id) endpoint to the higher one; every triangle then
  * has exactly ONE vertex whose two oriented edges form the wedge,
  * and one equi-join against the undirected edge set closes it.
  *
  * Why this survives 100 TB: wedge count under degree ordering is
  * O(m^1.5) regardless of skew (a hub of degree d generates wedges
  * only from its ≤√m lower-ordered neighbors), where naive id-ordered
  * orientation makes a low-id hub generate O(d²) wedges. All joins are
  * equi (never a cosine/filter inside the condition), the triangle
  * relation is exploded to per-node counts — never collected.
  */
object Graph {

  /** Session-scoped memo of an expensive checkpoint-backed relation —
    * the machinery behind the graph family's shared cores (LPA fixed
    * point, wedge counts, co-occurrence edges, BFS distances). One
    * build per (session, key); Harness.reset and PlanBudgetSpec call
    * [[clearMemos]] between queries so per-query timings and recorded
    * plans stay one-shot honest.
    *
    * Lifecycle honesty (r6 ADVICE): a memoized DataFrame strongly
    * references its SparkSession via QueryExecution, so NO weak-keyed
    * scheme can ever collect an entry — the previous WeakHashMap
    * claim was false. The actual release mechanism is dropping the
    * reference: entries whose SparkContext has stopped are purged on
    * every access, [[clearMemos]] drops everything, and the
    * localCheckpoint blocks behind a dropped entry are GC-owned
    * (freed when the RDD is collected — nothing sits in the SQL
    * CacheManager, so cache hygiene is untouched). A long-lived
    * multi-session process over one context should clearMemos()
    * between logical sessions, as Bench does. */
  private final class SessionMemo[K] {
    private val m = scala.collection.mutable.Map.empty[(SparkSession, K), DataFrame]
    /** Actual builds — the GraphSpec hook proving a query family
      * shares one core per session+key. */
    val executions = new java.util.concurrent.atomic.AtomicLong(0)
    def get(s: SparkSession, key: K)(build: => DataFrame): DataFrame = synchronized {
      m.filterInPlace { case (_, df) => !df.sparkSession.sparkContext.isStopped }
      m.getOrElseUpdate((s, key), { executions.incrementAndGet(); build })
    }
    def clear(): Unit = synchronized { m.clear() }
  }

  /** Session-scoped memo of the weighted co-occurrence edge relation
    * (r6 verdict task 4): [[coEdges]] and [[weightedCoEdges]] are the
    * SAME basket self-join — a (u,v) pair has an edge iff it shares
    * ≥1 order, and the weight is one count on top — yet q_bfs,
    * q_sssp, q_centrality, q_kcore, q_triangles, q_assortativity and
    * q_link_predict each rebuilt it per query. One checkpoint-backed
    * materialization now serves the whole family per session+dir
    * (Bench clears it per timed query so records stay one-shot
    * honest). */
  private val coMemo = new SessionMemo[String]
  private[graft] def edgeExecutions = coMemo.executions

  /** Distinct undirected co-occurrence edges (u < v by id) between
    * parts sharing an order. Bounded by Σ C(basket, 2) — basket size
    * is small and data-bounded, so this is ~linear in lineitem.
    * Derived from the session-shared weighted build: identical edge
    * set (the weight projection is dropped), one materialization for
    * every consumer; the blocks are GC-owned, no CacheManager
    * residency. */
  def coEdges(s: SparkSession, d: String): DataFrame =
    weightedCoEdges(s, d).select(col("u"), col("v"))

  /** The (x, y, z) triangle relation over a MATERIALIZED edge
    * relation — each triangle appears exactly once, keyed at its
    * (deg, id)-minimum vertex x.
    *
    * Two regimes (r11 optimization; same size gate as before, same
    * output multiset — GraphSpec pins the regimes agree count-for-
    * count):
    *
    *  - UNDER the broadcast gate: the forward / edge-iterator
    *    algorithm (Schank & Wagner 2005; Chiba–Nishizeki's idea) —
    *    build each node's (deg, id)-oriented OUT-neighbor array
    *    (out-degree ≤ √(2m) under the orientation, so arrays are
    *    bounded and the whole adjacency is m longs ≈ half the edge
    *    relation the old plan broadcast), then per oriented edge
    *    (x→y) intersect N⁺(x) ∩ N⁺(y): every member z closes the
    *    triangle x→y, x→z, y→z. Work is Σ(|N⁺(x)|+|N⁺(y)|) = O(m^1.5)
    *    — the SAME wedge-mass bound — but as a tight per-row array
    *    intersection inside one codegen stage instead of
    *    materializing the O(m^1.5)-row wedge relation and probing a
    *    broadcast hash per wedge (measured at sf0.1: the wedge+probe
    *    stage was 58 s of task time; the intersection form ~6×
    *    less).
    *  - PAST the gate (web scale): the adjacency arrays outgrow any
    *    broadcast ceiling, so the plan degrades to the prior shape —
    *    shuffled wedge stream + shuffled closing equi-join — which
    *    never holds a node's neighborhood in one row.
    */
  private def triRelation(e: DataFrame): DataFrame = {
    // the leaf's own row count bounds the degree dim and the adjacency
    val broadcastDeg = Iterate.fits(e)
    val deg = e.select(col("u").as("n"))
      .unionByName(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient each edge from its lower-(degree, id) endpoint. Under the
    // gate the degree dim broadcasts EXPLICITLY (r12): nodes ≤ 2m ≤ 8M
    // rows under the same edge gate, and leaving the SMJ→BHJ upgrade
    // to AQE made the executed plan racy — whether the already-planned
    // streamed-side shuffle of `e` materialized before the runtime
    // re-plan was a stage-scheduling race, flipping q_triangles_est
    // between 5 and 6 exchanges across identical runs (the q_modularity
    // precedent, caught by PlanProbe). Explicit broadcast also keeps
    // the orientation NARROW (leaf scan + two broadcast probes, no
    // exchange), so its three consumers (the stream and both adjacency
    // builds) recompute only a map-side pass over the checkpoint leaf.
    val gateB = Iterate.broadcastIf(broadcastDeg)
    val du = gateB(deg.select(col("n").as("u"), col("deg").as("du")))
    val dv = gateB(deg.select(col("n").as("v"), col("deg").as("dv")))
    val toV = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e.join(du, Seq("u")).join(dv, Seq("v"))
      .select(
        when(toV, col("u")).otherwise(col("v")).as("src"),
        when(toV, col("v")).otherwise(col("u")).as("dst"))
    if (broadcastDeg) {
      // forward algorithm: for triangle a<b<c (deg, id order) the
      // oriented edges are a→b, a→c, b→c, so ONLY edge (a, b) finds
      // z = c in N⁺(a) ∩ N⁺(b) — exactly-once enumeration. An edge
      // whose dst has no out-neighbors closes nothing; the inner join
      // drops it.
      val adj = oriented.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("ns"))
      oriented
        .join(broadcast(adj.select(col("src"), col("ns").as("nx"))), Seq("src"))
        .join(broadcast(adj.select(col("src").as("dst"), col("ns").as("ny"))), Seq("dst"))
        .select(col("src").as("x"), col("dst").as("y"),
          explode(array_intersect(col("nx"), col("ny"))).as("z"))
    } else {
      // wedges at the (deg, id)-minimum vertex of each triangle; the
      // candidate pair is canonicalized by id so the closing edge is
      // exactly the stored undirected (u < v) row — a pure equi-join
      val wedges = oriented.select(col("src").as("x"), col("dst").as("y"))
        .join(oriented.select(col("src").as("x"), col("dst").as("z")), Seq("x"))
        .where(col("y") < col("z"))
      wedges.join(e, col("y") === col("u") && col("z") === col("v"))
        .select(col("x"), col("y"), col("z"))
    }
  }

  /** Per-node triangle counts (node, n_tri), nodes in ≥1 triangle.
    * GraphSpec pins that the above-gate path (shuffled closing join,
    * forced by autoBroadcastJoinThreshold -1) gives identical counts. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // one leaf for triRelation's multiple references; the closing
    // join's broadcast stays EXPLICIT (size-gated in triRelation)
    val e = Iterate.leafOr(edges)
    triRelation(e)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("node"))
  }

  // ----- sampled triangle counting (r10 verdict task 5) -----

  /** DOULION edge-sampling parameters (Tsourakakis et al., KDD 2009:
    * keep each edge with probability p, count triangles on the thinned
    * graph, scale by 1/p³ — unbiased, variance-bounded). Sampling is
    * a PORTABLE integer hash, not randomness: an edge survives iff
    * h(u, v) mod [[TriSampleMod]] equals [[TriSampleResidue]], both
    * engines pick the identical edge subset, and 1/p³ is the exact
    * integer [[TriSampleMod]]³ — the estimate is integer arithmetic
    * end to end (the A32 sketch-tier discipline).
    *
    * The hash is TWO affine rounds with a mod-[[TriHashP]] reduction
    * between them — deliberately, not decoratively: a single affine
    * map read mod 10 is TRIANGLE-BLIND (A ≡ 1, B ≡ −1 mod 10 made
    * keep ⟺ u − v ≡ 3 (mod 10), and the three constraints around any
    * triangle sum to an impossibility — the first cut of this
    * estimator measured exactly ZERO sampled triangles at every SF).
    * Any pairwise-affine h shares the defect up to the choice of
    * residues: h(a,b) − h(a,c) + h(b,c) is a function of b alone, so
    * edge survivals around a triangle are never 3-wise independent.
    * The inner mod-P wrap breaks integer affinity before the mod-10
    * extraction; measured survival is ~p³ as DOULION assumes (342
    * sampled / 413,718 exact at sf0.01). p = 1/TriSampleMod up to the
    * O(1/P) floor bias of extracting mod 10 from a mod-P residue —
    * ~3·10⁻⁶ here, noise next to the sampling variance itself.
    * Operands pre-mod to P before every multiply so products stay far
    * below 2⁶³ at any key scale (the r9 split-hash overflow lesson). */
  private[graft] val TriSampleMod = 10L
  private[graft] val TriSampleResidue = 3L
  private[graft] val TriHashP = 1000003L
  private[graft] val TriHashA = 2654435761L
  private[graft] val TriHashB = 2246822519L
  private[graft] val TriHashA2 = 48271L
  private[graft] val TriHashC = 12345L

  /** The sampling predicate, shared by the estimator plan and
    * (interpolated) its oracle SQL. */
  private def triSampleKeep(u: Column, v: Column, mod: Long, residue: Long): Column =
    pmod(pmod(pmod(u, lit(TriHashP)) * lit(TriHashA)
        + pmod(v, lit(TriHashP)) * lit(TriHashB), lit(TriHashP))
      * lit(TriHashA2) + lit(TriHashC), lit(TriHashP)) % lit(mod) === lit(residue)

  /** Global sampled-triangle estimate over any edge relation:
    * (n_edges, n_sampled, tri_sampled, estimate) in one row. `mod` is
    * a parameter so GraphSpec can run the p = 1 degenerate case
    * (mod = 1 keeps every edge), where the estimate must equal the
    * exact count — the estimator's arithmetic pinned without any
    * sampling luck involved.
    *
    * Scale shape: the wedge stream runs on the THINNED graph —
    * expected p·m edges, so the superlinear term carries a p^1.5
    * constant (p = 0.1 → ~3% of the exact wedge mass) while
    * everything else (scan, degree rollup, orientation) stays linear.
    * This is what a 100 TB deployment actually runs when it wants the
    * triangle census: p is the accuracy/cost dial (variance ~1/p³),
    * and unlike the exact tier the cost at the next decade is
    * overhead-dominated, so the decade gate can measure it — see the
    * q_triangles_est rows in bench/SCALE_DECADES. */
  private[graft] def triangleEstimateCore(edges: DataFrame,
      mod: Long = TriSampleMod, residue: Long = TriSampleResidue): DataFrame = {
    // both counts are the leaves' own, read without a job
    val e = Iterate.leafOr(edges)
    val sampled = Iterate.leaf(e.filter(triSampleKeep(col("u"), col("v"), mod, residue)))
    triRelation(sampled)
      .agg(count(lit(1)).as("tri_sampled"))
      .select(lit(Iterate.rows(e)).as("n_edges"), lit(Iterate.rows(sampled)).as("n_sampled"),
        col("tri_sampled"), (col("tri_sampled") * lit(mod * mod * mod)).as("estimate"))
  }

  /** Estimator-only face (the deployment serving shape, measured both
    * decades in the scale record — the q_ann_pq_fixed twin pattern:
    * the envelope query below carries the accuracy contract, this one
    * carries the scale contract). */
  def trianglesEst(s: SparkSession, d: String): DataFrame =
    triangleEstimateCore(coEdges(s, d)).orderBy(col("n_edges"))

  /** Sampled-vs-exact envelope (the A32 sketch-tier pattern: estimate,
    * exact, and the error in one oracle-checked row). The exact tier
    * rides the session-shared wedge memo — a user composing this with
    * q_triangles/q_clustering pays for ONE exact enumeration. */
  def trianglesApprox(s: SparkSession, d: String): DataFrame = {
    val est = triangleEstimateCore(coEdges(s, d))
    // Σ n_tri = 3T exactly (each triangle names 3 nodes); the double
    // division is exact for any T this side of 2^51
    val exact = triCountsShared(s, d)
      .agg((sum(col("n_tri")) / 3).cast("long").as("n_exact"))
    est.crossJoin(broadcast(exact))
      .select(col("n_edges"), col("n_sampled"), col("tri_sampled"),
        col("estimate"), col("n_exact"),
        round((col("estimate") - col("n_exact")) * 100.0 / col("n_exact"), 2)
          .as("err_pct"))
      .orderBy(col("n_edges"))
  }

  /** Session-scoped memo of the per-node triangle counts over the
    * co-occurrence graph — the [[lpaMemo]] pattern applied to the
    * graph family's OTHER heavy pair: [[triangles]] and
    * [[clusteringCoeff]] both need T(v), and the O(m^1.5) wedge join
    * is the whole cost of each; re-running it per declared query
    * would double the price for a user composing both. The memo holds
    * the count relation's localCheckpoint (|V|-row, GC-owned blocks —
    * nothing in the SQL CacheManager); Harness.reset and PlanBudgetSpec
    * clear it between queries via [[clearMemos]] so per-query
    * timings and recorded plans stay one-shot honest. */
  private val triMemo = new SessionMemo[String]

  /** Actual wedge-join executions — the GraphSpec hook proving the
    * triangles/clustering pair costs one enumeration per session+dir. */
  private[graft] def triExecutions = triMemo.executions

  private def triCountsShared(s: SparkSession, d: String): DataFrame =
    triMemo.get(s, d)(Iterate.leaf(triangleCounts(coEdges(s, d))))

  def triangles(s: SparkSession, d: String): DataFrame =
    triCountsShared(s, d).orderBy(col("node"))

  /** Local clustering coefficient (§2.14, r6): per node with degree
    * ≥ 2, C(v) = 2·T(v) / (d(v)·(d(v)−1)) — the fraction of a node's
    * neighbor pairs that are themselves connected, THE local-density
    * readout next to the global [[triangleCounts]]. Triangles come
    * from the proven degree-oriented wedge machinery (O(m^1.5), the
    * wedge stream never shuffles under the broadcast gate) via the
    * shared session memo — the triangles/clustering pair costs ONE
    * wedge enumeration; zero-triangle nodes keep coefficient 0 via
    * the left join rather than vanishing. The division is one fixed
    * double op over exact integers (the assortativity convention),
    * rounded at 6. */
  def clusteringCoeff(s: SparkSession, d: String): DataFrame =
    clusteringFrom(Iterate.leafOr(coEdges(s, d)), triCountsShared(s, d))

  /** Fixture face: runs its own triangle enumeration over the given
    * edges (GraphSpec's hand-solved graphs don't route through the
    * session memo — the [[modularityCore]] convention). */
  private[graft] def clusteringCoeffCore(edges: DataFrame): DataFrame = {
    val e = Iterate.leaf(edges)
    clusteringFrom(e, triangleCounts(e))
  }

  /** Coefficient assembly over a materialized edge relation and its
    * per-node triangle counts. */
  private def clusteringFrom(e: DataFrame, tri: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("n_tri"))
      .filter(col("deg") >= 2)
      .select(col("node"), col("deg"), col("n_tri"),
        round(lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)), 6)
          .as("coeff"))
      .orderBy(col("node"))
  }

  /** k-core decomposition (the third iterative graph operator, next
    * to PageRank's fixed-iteration loop and CC's pointer jumping —
    * this one converges by MONOTONE DELETION): repeatedly drop nodes
    * of degree < k until a round deletes nothing, then return the
    * surviving nodes with their within-core degree. The density
    * profile graph jobs read before picking algorithms, and the
    * classic community-detection / spam-filter primitive.
    *
    * The loop runs on [[Iterate.untilStable]]: the surviving edge
    * count rides each round's own checkpoint job, a round that deletes
    * nothing is the fixed point, and non-convergence fails loudly. The
    * input leaf's row count seeds the convergence compare. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = Iterate.leafOr(edges)
    val core = Iterate.untilStable("graft.kcore.edges", e, maxRounds,
        _ => count(lit(1)), start = Iterate.rows(e),
        stable = (before, after) => after == before,
        refuse = Some(s"kCore(k=$k)")) { (cur, _, _) =>
      val deg = cur.select(col("u").as("n"))
        .unionByName(cur.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k)
      cur.join(keep.select(col("n").as("ku")), col("u") === col("ku"))
        .join(keep.select(col("n").as("kv")), col("v") === col("kv"))
        .select(col("u"), col("v"))
    }
    core.select(col("u").as("n")).unionByName(core.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .select(col("n").as("node"), col("deg"))
      .orderBy(col("node"))
  }

  /** Declared k for [[kCore]]: deep enough to peel real nodes at
    * every harness SF (189/1993/19872 core nodes; 3/2/3 rounds) while
    * staying far inside the oracle's 8-round unroll. */
  val KCoreK = 64

  def kcore(s: SparkSession, d: String): DataFrame =
    kCore(coEdges(s, d), KCoreK)

  /** BFS min-hop distances from a source node (the fourth iterative
    * graph operator; completes the profile suite next to PageRank /
    * CC / k-core / triangles). Classic frontier expansion: each round
    * joins ONLY the frontier against the symmetric adjacency — never
    * the whole distance relation — then anti-joins the visited set, so
    * per-round shuffle volume is O(frontier adjacency), the property
    * that makes level-synchronous BFS the standard at cluster scale
    * (Pregel's canonical example). Convergence = empty frontier,
    * observe()d on each round's own checkpoint job by
    * [[Iterate.untilStable]], which fails loudly past `maxRounds`.
    *
    * Unreached nodes are absent from the output (no sentinel
    * distances), matching the oracle's min-propagation fixed point. */
  def bfs(edges: DataFrame, src: Long, maxRounds: Int = 30): DataFrame = {
    val sym = Iterate.leafOr(edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b"))))
    val init = edges.sparkSession.range(1)
      .select(lit(src).as("node"), lit(0).cast("int").as("dist"))
      .localCheckpoint()
    Iterate.untilStable("graft.bfs.frontier", init, maxRounds,
        round => count(when(col("dist") === round, 1)),
        refuse = Some(s"bfs(src=$src)")) { (visited, round, frontierSize) =>
      val frontier =
        if (round == 1) visited.select(col("node"))
        else visited.filter(col("dist") === round - 1).select(col("node"))
      // the frontier's EXACT size is free (last round's observe), so
      // the broadcast decision needs no extra job: under the gate the
      // frontier ships to the adjacency's partitions and the 2|E|-row
      // sym relation never reshuffles — without this, the checkpoint's
      // conservative stats make every round sort-merge the full
      // adjacency. Past the gate (web-scale frontiers) the plan
      // degrades to the shuffled equi-join.
      val next = sym
        .join(Iterate.broadcastIf(Iterate.fits(sym.sparkSession, frontierSize))(frontier),
          col("a") === col("node"))
        .select(col("b").as("node")).distinct()
        .join(visited.select(col("node").as("vn")),
          col("node") === col("vn"), "left_anti")
        .select(col("node"), lit(round).cast("int").as("dist"))
      visited.unionByName(next)
    }.orderBy(col("node"))
  }

  /** BFS source: node 0 co-occurs at every harness SF (part keys start
    * at 0) and reaches the whole graph within eccentricity 2–3 —
    * GraphSpec pins convergence within the oracle's 8-round unroll. */
  val BfsSource = 0L

  /** Session-scoped memo of the BFS distance relation from
    * [[BfsSource]] (r6 verdict task 4): q_bfs and q_centrality consume
    * the SAME level-synchronous fixed point, and q_centrality used to
    * re-run the whole loop. The loop's final state is already
    * checkpoint-backed; the memo holds it per session+dir. */
  private val bfsMemo = new SessionMemo[String]
  private[graft] def bfsExecutions = bfsMemo.executions

  private def bfsShared(s: SparkSession, d: String): DataFrame =
    bfsMemo.get(s, d)(bfs(coEdges(s, d), BfsSource))

  def bfsQuery(s: SparkSession, d: String): DataFrame = bfsShared(s, d)

  /** Weighted co-occurrence edges for [[sssp]]: co-purchase strength
    * s(u,v) = number of distinct orders containing both parts, turned
    * into an INTEGER hop cost w = 6 − min(s, 5) ∈ {1..5} (strong
    * links are cheap to traverse — the "affinity distance" convention
    * of market-basket navigation). Integer costs keep every path sum
    * exact on both engines; the (ok, partkey) dedup ahead of the pair
    * join stops multi-line orders from inflating strength.
    * Memoized per session+dir (see [[coMemo]]) — the whole graph
    * family reads this one checkpoint. */
  def weightedCoEdges(s: SparkSession, d: String): DataFrame =
    coMemo.get(s, d) {
      // parallelism floor on the basket self-join (r12, FanOut): the
      // C(basket,2) pair explosion is CPU-per-row, but AQE coalesces
      // its input stage by BYTES (11 MB of lineitem → 3-5 tasks); the
      // explicit ok-keyed repartition feeds the join at the core
      // count AND satisfies both sides' distribution requirement
      // (one exchange, reused). Identity at real scale.
      val raw = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
      val li = FanOut.when(raw)(raw.distinct(), col("ok"))
      Iterate.leaf(li.select(col("ok"), col("l_partkey").as("u"))
        .join(li.select(col("ok"), col("l_partkey").as("v")), Seq("ok"))
        .where(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg((lit(6L) - least(count(lit(1)), lit(5L))).as("w")))
    }

  /** Bounded-hop single-source shortest paths (§2.14 extension):
    * frontier Bellman-Ford over integer-weighted undirected edges.
    * After round r, dist(n) is EXACTLY the minimum cost over paths of
    * ≤ r edges — the frontier optimization (only nodes whose distance
    * improved last round relax this round) reaches the same ≤ r-edge
    * prefix as classic all-node relaxation, by induction on the round
    * a value first appears. That makes "`rounds` rounds" a semantics,
    * not a heuristic: the oracle's r-round unrolled min-plus CTE
    * computes the identical relation by construction, converged or
    * not — so unlike [[bfs]] there is no truncation error to refuse
    * on, so [[Iterate.untilStable]] runs it without a refusal. Loop
    * mechanics are the [[bfs]] idiom: per-round shuffle volume is
    * O(frontier adjacency), improvement count observe()d on the round's
    * own checkpoint job (no extra action), size-gated frontier
    * broadcast. At web scale the frontier outgrows the gate and the
    * plan degrades to the shuffled equi-join — same class as BFS. */
  def sssp(wedges: DataFrame, src: Long, rounds: Int = SsspRounds): DataFrame = {
    val sym = Iterate.leafOr(wedges.select(col("u").as("a"), col("v").as("b"), col("w"))
      .unionByName(wedges.select(col("v").as("a"), col("u").as("b"), col("w"))))
    val init = wedges.sparkSession.range(1)
      .select(lit(src).as("node"), lit(0L).as("dist"))
      .localCheckpoint()
    Iterate.untilStable("graft.sssp.improved", init, rounds,
        _ => count(when(col("improved"), 1))) { (dist, round, frontierSize) =>
      val frontier =
        if (round == 1) dist
        else dist.filter(col("improved")).select(col("node"), col("dist"))
      val cand = sym
        .join(Iterate.broadcastIf(Iterate.fits(sym.sparkSession, frontierSize))(frontier),
          col("a") === col("node"))
        .groupBy(col("b"))
        .agg(min(col("dist") + col("w")).as("cand"))
        .select(col("b").as("cn"), col("cand"))
      val better = col("dist").isNull ||
        (col("cand").isNotNull && col("cand") < col("dist"))
      dist.join(cand, col("node") === col("cn"), "full_outer")
        .select(coalesce(col("node"), col("cn")).as("node"),
          when(better, col("cand")).otherwise(col("dist")).as("dist"),
          better.as("improved"))
    }.select(col("node"), col("dist")).orderBy(col("node"))
  }

  /** Round bound shared by [[sssp]] and its oracle unroll: ≤ 8-edge
    * cheapest paths. With hop-diameter 2–3 and costs in {1..5}, the
    * 8-edge prefix is the fixed point on every harness SF
    * (GraphSpec-pinned) — but the CONTRACT is the bounded-hop
    * relation itself, which both engines compute exactly. */
  val SsspRounds = 8

  def ssspQuery(s: SparkSession, d: String): DataFrame =
    sssp(weightedCoEdges(s, d), BfsSource)

  /** Closeness + harmonic centrality of the BFS source (r4 wave 7) —
    * the "how central is this node" summary off the SAME level-
    * synchronous BFS relation as [[bfsQuery]] (no new iteration
    * machinery): closeness = n_reached ÷ Σdist on exact longs,
    * harmonic = Σ 1/d with the sum taken over the DIST-GROUPED counts
    * (≤ eccentricity ≈ 3 terms — a per-node 1/d sum over thousands of
    * rows would fold in nondeterministic order; c_d/d per distinct
    * distance makes the float work order-free for any graph size).
    * Harmonic handles disconnection gracefully (unreached nodes
    * contribute 0), which is why it's the form used on web-scale
    * graphs. Consumes the session-shared BFS relation ([[bfsShared]])
    * — the q_bfs/q_centrality pair costs ONE loop, and both sit on
    * the one co-occurrence edge materialization q_sssp also reads. */
  def centrality(s: SparkSession, d: String): DataFrame =
    centralityCore(bfsShared(s, d))

  /** Centrality over any `(node, dist)` BFS relation — DataFrame-
    * parameterized so GraphSpec can pin the closed forms on a
    * hand-solved path graph. */
  def centralityCore(dists: DataFrame): DataFrame =
    dists.filter(col("dist") > 0)
      .groupBy(col("dist")).agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).cast("long").as("n_reached"),
        max(col("dist")).as("ecc"),
        sum(col("c") * col("dist")).cast("long").as("sum_dist"),
        round(sum(col("c") / col("dist").cast("double")), 6).as("harmonic"))
      .withColumn("closeness",
        round(col("n_reached") / col("sum_dist").cast("double"), 6))
      .select(col("n_reached"), col("ecc"), col("sum_dist"),
        col("closeness"), col("harmonic"))
      .orderBy(col("n_reached")) // 1 row; the oracle contract wants a total order

  /** Degree assortativity (r4 wave 6): Pearson correlation of
    * endpoint degrees over the co-occurrence graph's edges — ONE
    * number answering "do hubs connect to hubs?" (positive: social
    * shape; negative: hub-and-spoke). Each undirected edge
    * contributes both orientations, so x- and y-moments coincide and
    * the closed form needs only (m, Σd, Σd², Σdᵤdᵥ) — INTEGER-exact
    * longs. The ratio uses the MEAN form r = (E[xy] − E[x]²) /
    * (E[x²] − E[x]²): the cross-moment form multiplies m·Σd², which
    * overflows int64 on big graphs where Spark would wrap silently
    * while DuckDB promotes to int128 — dividing the exact longs
    * first keeps every op in IEEE doubles both engines execute
    * identically. Degenerate regular graphs (zero degree variance)
    * → NULL. Two shuffles past the edge build: the
    * degree count and the 1-row moment aggregate; degrees join back
    * by key. */
  def assortativity(s: SparkSession, d: String): DataFrame =
    assortativityCore(coEdges(s, d))

  /** Assortativity over any `(u, v)` edge relation —
    * DataFrame-parameterized so GraphSpec can pin the closed form on
    * a hand-solved star (r = −1). */
  def assortativityCore(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("n")).unionByName(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val pairs = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("du"), col("dv"))
    val sym = pairs.unionByName(pairs.select(col("dv").as("du"), col("du").as("dv")))
    val mx = col("sx").cast("double") / col("m2")
    val num = col("sxy").cast("double") / col("m2") - mx * mx
    val den = col("sxx").cast("double") / col("m2") - mx * mx
    sym.agg(
        count(lit(1)).as("m2"),
        sum(col("du")).as("sx"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("du") * col("dv")).as("sxy"))
      .select(col("m2").as("n_endpoints"),
        round(when(den > 0, num / den), 6).as("assortativity"))
  }

  /** Association rules (market-basket mining, r4): the top-20 part
    * pairs by co-occurrence support, each scored with confidence
    * P(v|u) and lift P(u,v)/(P(u)P(v)) — the A-Priori first pass that
    * powers "bought together" (Agrawal & Srikant, VLDB 1994). The
    * pair stream is the same basket self-join as [[coEdges]] (bounded
    * by Σ C(basket,2), ~linear in lineitem for data-bounded baskets);
    * top-k is a TakeOrderedAndProject (never a global sort); the
    * item-support dim is bounded by part cardinality → broadcast
    * joins; the basket count is a 1-row broadcast scalar. All
    * integer products stay < 2^53, so both engines' double divisions
    * see bit-identical operands. */
  def assocRules(s: SparkSession, d: String): DataFrame =
    assocRulesCore(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct(), topK = 20)

  /** Rules over any distinct `(ok, item)` basket relation —
    * DataFrame-parameterized so GraphSpec can pin confidence/lift on
    * a hand-counted 4-basket fixture. */
  def assocRulesCore(baskets: DataFrame, topK: Int): DataFrame = {
    val nb = baskets.select(countDistinct(col("ok")).as("n_baskets"))
    val supp = baskets.groupBy(col("item")).agg(count(lit(1)).as("supp"))
    val pairs = baskets.select(col("ok"), col("item").as("u"))
      .join(baskets.select(col("ok"), col("item").as("v")), Seq("ok"))
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_ab"))
    pairs.orderBy(col("n_ab").desc, col("u"), col("v")).limit(topK)
      .join(broadcast(supp.select(col("item").as("u"), col("supp").as("supp_u"))), Seq("u"))
      .join(broadcast(supp.select(col("item").as("v"), col("supp").as("supp_v"))), Seq("v"))
      .crossJoin(nb)
      .select(col("u"), col("v"), col("n_ab"), col("supp_u"), col("supp_v"),
        round(col("n_ab") / col("supp_u").cast("double"), 6).as("confidence"),
        round((col("n_ab") * col("n_baskets"))
          / (col("supp_u") * col("supp_v")).cast("double"), 6).as("lift"))
      .orderBy(col("u"), col("v"))
  }

  /** Walks per focal node and steps per walk for [[graphWalks]]. */
  private[graft] val WalksPerNode = 2
  private[graft] val WalkSteps = 4

  /** Deterministic random-walk corpus (r8; DeepWalk — Perozzi et al.
    * KDD 2014; node2vec's p = q = 1 case): the walk-sentence
    * generation step of every graph-embedding pipeline, rendered as a
    * declared query instead of loader code. Each focal node (the
    * link-predict 1% id stride) starts [[WalksPerNode]] walks of
    * [[WalkSteps]] steps; step k of walk w from node n moves to the
    * neighbor at rank hash("walk#n#w#k") mod degree(cur) — the
    * portable-hash stand-in for the uniform draw, so every engine,
    * run, and cluster size walks the SAME paths (the q_sample
    * principle applied to graph traversal).
    *
    * Shape at scale: the ranked adjacency is one bounded window per
    * node (rank + degree over neighbor lists); each step is an
    * equi-join of the |focal|·W frontier against it, filtered to
    * exactly ONE neighbor — the frontier never grows, the adjacency
    * exchange is reused across all [[WalkSteps]] steps, and nothing
    * corpus-sized sits in any task. Output: one walk sentence per
    * (start, walk) — exactly what a skip-gram trainer consumes. */
  def graphWalks(s: SparkSession, d: String): DataFrame =
    graphWalksCore(coEdges(s, d))

  /** [[graphWalks]] over any `(u, v)` undirected edge relation —
    * DataFrame-parameterized so GraphSpec can replay the hash picks
    * on a hand-built graph and pin the exact paths. */
  private[graft] def graphWalksCore(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    // materialize the ranked adjacency ONCE (r12 second pass): the
    // exchange-reuse shape computed the shuffle once but re-ran the
    // sort + two windows in every step's consuming stage — 4× the
    // window CPU for a loop-invariant relation (profiled: four ~5-6 s
    // task-time stages each re-reading the 21.7 MiB exchange). The
    // leaf is a narrow (a, b, rk, deg) projection of the edge
    // relation — the §5 cut-lineage-when-reused rule.
    val adj = Iterate.leaf(sym
      .withColumn("rk", row_number().over(Window.partitionBy(col("a")).orderBy(col("b"))))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("a")))))
    // the walk frontier is |focal|·W rows (a 1% node sample × 2) and
    // never grows — under the edge-count gate it broadcasts and each
    // step is one narrow probe over the adjacency leaf (no per-step
    // exchange of either side); past the gate the steps degrade to
    // shuffled equi-joins, the triRelation gate class
    val focal = sym.select(col("a")).distinct().filter(col("a") % 100 === 7)
    val gate = Iterate.broadcastIf(Iterate.fits(adj))
    val walks0 = focal.select(col("a").as("start"),
        explode(sequence(lit(0), lit(WalksPerNode - 1))).as("walk"))
      .select(col("start"), col("walk"), col("start").as("cur"),
        col("start").cast("string").as("path"))
    val stepped = (1 to WalkSteps).foldLeft(walks0) { (fr, step) =>
      val pick = pmod(
        Text.charHash(concat(lit("walk#"), col("start").cast("string"),
          lit("#"), col("walk").cast("string"), lit(s"#$step"))),
        col("deg")) + 1
      adj.join(gate(fr), fr("cur") === adj("a"))
        .filter(col("rk") === pick)
        .select(col("start"), col("walk"), col("b").as("cur"),
          concat(col("path"), lit(" "), col("b").cast("string")).as("path"))
    }
    stepped.select(col("start"), col("walk").cast("int").as("walk"),
        col("path"), col("cur").as("end_node"))
      .orderBy(col("start"), col("walk"))
  }

  /** Adamic-Adar link prediction, serving shape (G-family, r5 wave
    * 12; Adamic & Adar 2003, Liben-Nowell & Kleinberg 2007): top-5
    * suggested new edges for each FOCAL node (a 1% id-sample standing
    * in for the online query batch). All-pairs AA is Σ_z C(deg z, 2)
    * — quadratic in degree and hopeless on a dense co-occurrence
    * graph (this one holds deg ≈ 120 at every SF) — so the engine
    * computes it per query node, the batched-ANN precedent: cost is
    * \|batch\| · d̄², linear in the batch, and at 100 TB the batch IS
    * the serving request stream. One wedge join keyed on the common
    * neighbor, one rollup, one canonical-pair anti-join against the
    * existing edges, one per-focal rank window.
    *
    * Portability: Σ 1/ln(deg z) over an arbitrary visit order is not
    * cross-engine stable, so each neighbor's weight quantizes FIRST —
    * floor(1e6/ln deg), one identical double division then floor →
    * exact longs — and the score sums integers (the rolling-zscore
    * contract). deg ≥ 2 for every common neighbor by construction;
    * the explicit filter keeps ln(1) = 0 out of the division. */
  def linkPrediction(s: SparkSession, d: String): DataFrame =
    linkPredictionCore(coEdges(s, d), topPerNode = 5)

  /** Hub ceiling for common neighbors (r6, the T3 df-cap precedent):
    * a common neighbor z of degree d generates O(d²) wedge pairs
    * while contributing AA weight 1/ln d → ~0, so past the cap z is
    * excluded BEFORE wedge expansion — on a heavy-tailed graph this
    * bounds per-z cost at cap² where the uncapped shape is quadratic
    * in the hottest hub. The harness co-occurrence graph is
    * near-regular (max degree 222 at sf0.1 ≪ cap), so the cap is
    * semantics-neutral at every harness SF (the oracle carries the
    * same `deg <= cap` — outputs unchanged, hash-verified); GraphSpec
    * pins the hub exclusion on a planted-hub fixture and the
    * closed-form wedge-count model Σ_z deg_focal(z)·(deg(z)−1) that
    * makes the |batch|·d̄² growth a checked contract. */
  val MaxAaDegree = 1024L

  /** The pre-aggregation wedge relation (a, b, z, w): one row per
    * (focal node a, candidate b, eligible common neighbor z). Exposed
    * package-private so GraphSpec can pin its cardinality against the
    * closed-form cost model — this relation IS the operator's cost. */
  private[graft] def aaWedges(edges: DataFrame, maxDegree: Long): DataFrame = {
    val e = Iterate.leafOr(edges)
    val sym = e.select(col("u").as("a"), col("v").as("z"))
      .unionByName(e.select(col("v").as("a"), col("u").as("z")))
    // explicit size-gated broadcasts (r12 second pass, guide §3.1):
    // left to AQE, the INITIAL plan sort-merged both wedge joins, so
    // the full 2m-row sym relation was exchanged on z (54.7 MiB at
    // sf0.1) before the runtime SMJ→BHJ upgrade could cancel it. The
    // degree dim is |V|-bounded and the focal stream is a 1% sample —
    // under the edge-count gate both broadcast from the start and the
    // wedge expansion is one narrow codegen pass over the edge leaf;
    // past the gate the plan degrades to the shuffled joins exactly
    // as before (the triRelation/modularityFrom gate class).
    val gate = Iterate.broadcastIf(Iterate.fits(e))
    val wz = sym.groupBy(col("z")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= maxDegree)
      .select(col("z"),
        floor(lit(1000000.0) / log(col("deg").cast("double"))).cast("long").as("w"))
    // prune sym by eligible z BEFORE the wedge self-join: wedges for
    // over-cap hubs are never generated (not generated-then-dropped)
    val nbr = sym.select(col("z"), col("a").as("b")).join(gate(wz), Seq("z"))
    gate(sym.filter(pmod(col("a"), lit(100)) === 7))
      .join(nbr, Seq("z"))
      .filter(col("a") =!= col("b"))
  }

  /** Scoring over any `(u < v)` edge relation — DataFrame-
    * parameterized so GraphSpec can pin the closed-form weights, the
    * existing-edge exclusion, and the hub cap on hand-built graphs. */
  def linkPredictionCore(edges: DataFrame, topPerNode: Int,
      maxDegree: Long = MaxAaDegree): DataFrame = {
    val e = Iterate.leaf(edges) // consumers: sym (×2 sides), anti-join
    // the leaf's row count drives every broadcast decision below
    val doB = Iterate.fits(e)
    val scored = aaWedges(e, maxDegree)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("w")).as("aa_micros"))
    // under the gate the existing-edge exclusion builds the m-row edge
    // set once instead of sort-merging the scored relation against it
    // (77 MiB + 27 MiB exchanged at sf0.1); past it, SMJ as before
    val fresh = scored.join(Iterate.broadcastIf(doB)(e),
      least(scored("a"), scored("b")) === e("u") &&
        greatest(scored("a"), scored("b")) === e("v"), "left_anti")
    val rn = row_number().over(
      Window.partitionBy(col("a")).orderBy(col("aa_micros").desc, col("b")))
    fresh.withColumn("rank", rn).filter(col("rank") <= topPerNode)
      .select(col("a"), col("b"), col("rank"), col("common_neighbors"),
        col("aa_micros"), round(col("aa_micros") / 1e6, 6).as("adamic_adar"))
      .orderBy(col("a"), col("rank"))
  }

  /** HITS hubs & authorities (r5 wave 19; Kleinberg JACM 1999): the
    * other classic iterative eigenvector ranking, on the directed
    * customer→supplier star where it's genuinely bipartite — hub
    * score = how broadly a customer buys, authority = how much hub
    * mass a supplier attracts. 8 power iterations of a = AᵀH, h = Aa
    * with parallel edges at their multiplicity, normalized ONCE at
    * the end (scale factors out of the fixpoint direction, and
    * end-normalization keeps the loop pure multiply-accumulate — no
    * per-iteration division whose rounding could compound
    * cross-engine). Same scale mechanics as the PageRank family:
    * flat edges persisted once, size-gated score-vector broadcast
    * (zero per-iteration shuffles under the gate), totals as 1-row
    * broadcasts. Hand-written on [[Iterate.leaf]]: h is cut every
    * iteration, a only after the last (see the loop). */
  def hits(s: SparkSession, d: String): DataFrame =
    hitsCore(PageRank.starEdgesDirected(s, d), 8)

  def hitsCore(edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.persist()
    val doBroadcast = PageRank.chooseBroadcast(e)
    val gate = Iterate.broadcastIf(doBroadcast)
    // dual loop-invariant layouts (r12 second pass, §2.4): the a-step
    // aggregates by dst and the h-step by src, so each half-step paid
    // one exchange of the edge relation per iteration — 2·iterations
    // shuffles of a relation that never changes. Under the broadcast
    // gate the score-vector join streams the edge side unchanged, so
    // materializing e ONCE per aggregation key makes every half-step
    // a narrow probe+agg over cached partitions: zero per-iteration
    // exchanges (PageRank.run's dst-layout, doubled for the two
    // alternating keys). Past the gate the shuffled joins re-key
    // anyway and the layouts would be two wasted exchanges.
    val eByDst = if (doBroadcast) e.repartition(col("dst")).persist() else e
    val eBySrc = if (doBroadcast) e.repartition(col("src")).persist() else e
    var h = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("h"))
    var a: DataFrame = null
    for (i <- 1 to iterations) {
      // lineage discipline (the PageRank.run every-3rd precedent,
      // tightened to the two-consumer endpoints): mid-loop `a` has
      // exactly ONE consumer (the h half-step, whose broadcast build
      // executes it once), so only h is materialized per iteration —
      // half the checkpoint jobs of the cut-every-half-step shape.
      // The FINAL a feeds two consumers (auths + its total), so it is
      // cut like the final h.
      val aRaw = eByDst.join(gate(h), col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
      a = if (i == iterations) Iterate.leaf(aRaw) else aRaw
      // `ad`, not a("dst"): the lazy mid-loop a shares e's attribute
      // ids with eBySrc, so the df("dst") disambiguation would be an
      // ambiguous self-join — the rename makes the key unambiguous
      val aj = a.select(col("dst").as("ad"), col("a"))
      h = Iterate.leaf(eBySrc.join(gate(aj), col("dst") === col("ad"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
        .select(col("src").as("node"), col("h")))
    }
    val hubs = h.crossJoin(broadcast(h.agg(sum(col("h")).as("tot"))))
      .select(lit("hub").as("kind"), col("node"),
        round(col("h") / col("tot"), 6).as("score"))
    val auths = a.crossJoin(broadcast(a.agg(sum(col("a")).as("tot"))))
      .select(lit("auth").as("kind"), col("dst").as("node"),
        round(col("a") / col("tot"), 6).as("score"))
    e.unpersist()
    if (doBroadcast) { eByDst.unpersist(); eBySrc.unpersist() }
    auths.unionByName(hubs).orderBy(col("kind"), col("node"))
  }

  /** Synchronous label-propagation rounds — fixed count so the result
    * is a deterministic function of the graph (no convergence test to
    * diverge on), pinned to the oracle's unroll. */
  val LpaRounds = 5

  /** Label-propagation community detection (§2.14 extension): every
    * node starts in its own community; each synchronous round
    * reassigns it to the most frequent label among its neighbors,
    * ties broken toward the smaller label. Deterministic by
    * construction (sync updates + total tie order) — the async
    * random-order variant of the original NPC paper trades that away
    * for fewer rounds, the wrong trade when the output feeds a
    * hash-compared pipeline.
    *
    * Scale shape: per round, ONE join of the 2|E| symmetric edge list
    * against the |V|-row label relation (label side broadcasts under
    * the same node-count gate as PageRank's ranks; past the gate it
    * degrades to the shuffled equi-join), then vote counting as
    * groupBy(node, label) and the argmax as groupBy(node) over
    * max(struct(n, −label)) — aggregations only, no per-node sort, no
    * window over the fact-sized vote relation. Lineage is cut every
    * round (the relations are |V|-sized; the checkpoint is cheaper
    * than carrying 5 rounds of join plans). */
  def labelPropagation(edges: DataFrame, rounds: Int = LpaRounds): DataFrame = {
    val sym = Iterate.leafOr(edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b"))))
    // the initial labels are a leaf: its row count (|V|) bounds every
    // round's label relation, so it decides the gate
    val init = Iterate.leaf(sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    val gate = Iterate.broadcastIf(Iterate.fits(init))
    Iterate.rounds(init, rounds) { labels =>
      sym.join(gate(labels.withColumnRenamed("node", "ln")),
          col("b") === col("ln"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("n"))
        .groupBy(col("a"))
        .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("top"))
        .select(col("a").as("node"), (-col("top.neg")).as("label"))
    }
  }

  /** Session-scoped memo of the repeat co-purchase edge relation
    * (r12 second pass): [[modularity]] consumes it TWICE per query —
    * directly for the moment assembly and again inside [[lpaLabels]]'
    * loop — and unmemoized the basket self-join ran twice (profiled
    * at sf0.1: twin 31 s/20 s-task-time pair-explosion stages in one
    * q_modularity run). Same lifecycle as [[coMemo]]. */
  private val repeatMemo = new SessionMemo[String]
  private[graft] def repeatExecutions = repeatMemo.executions

  /** Repeat co-purchase edges: part pairs sharing ≥2 co-occurring
    * LINE pairs (no (ok, partkey) dedup ahead of the pair join —
    * unlike [[weightedCoEdges]] — so one order holding a part on two
    * lines counts twice; the oracle CTE counts the same line pairs).
    * The weight threshold is what makes community structure visible —
    * the full co-occurrence graph is so dense LPA collapses it to one
    * community (observed at every harness SF), while the ≥2 filter
    * keeps ~3% of edges and yields hundreds. Same aggregation shape
    * as [[coEdges]], one count filter on top. Memoized per
    * session+dir (see [[repeatMemo]]) as one checkpoint leaf. */
  def repeatCoEdges(s: SparkSession, d: String): DataFrame =
    repeatMemo.get(s, d) {
      val raw = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
      // same parallelism floor as weightedCoEdges' basket self-join
      val li = FanOut.when(raw)(raw, col("ok"))
      Iterate.leaf(li.select(col("ok"), col("l_partkey").as("u"))
        .join(li.select(col("ok"), col("l_partkey").as("v")), Seq("ok"))
        .where(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("u"), col("v")))
    }

  // ----- shared LPA fixed point (r6 verdict task 5) -----

  /** Session-scoped memo of the LPA fixed point over the repeat
    * co-purchase graph: [[communities]] and [[modularity]] consume
    * the SAME 5-round label relation, and the loop is the graph
    * family's heaviest pair — re-running it per declared query
    * doubled the cost for any user composing both. The memo holds
    * the final round's localCheckpoint (a |V|-row relation of
    * GC-owned blocks; nothing enters the SQL CacheManager, so the
    * cache-hygiene contract is untouched) keyed by (session, dir,
    * rounds). Harness.reset calls [[clearMemos]] between
    * queries so per-query timings and recorded plan shapes stay
    * one-shot honest; within a user session / Verify run the pair
    * pays ONE loop (GraphSpec pins the single execution). */
  private val lpaMemo = new SessionMemo[(String, Int)]

  /** Actual LPA loop executions — the GraphSpec hook proving the
    * communities/modularity pair costs one loop per session+dir. */
  private[graft] def lpaExecutions = lpaMemo.executions

  private def lpaLabels(s: SparkSession, d: String,
      rounds: Int = LpaRounds): DataFrame =
    lpaMemo.get(s, (d, rounds))(labelPropagation(repeatCoEdges(s, d), rounds))

  /** Drops every memoized graph core (LPA labels, triangle counts,
    * co-occurrence edges, BFS distances) — Harness.reset and
    * PlanBudgetSpec call it between queries. Dropping the reference
    * IS the release: the relations' localCheckpoint blocks are
    * GC-owned (nothing sits in the SQL CacheManager, so there is
    * nothing to unpersist — the r6 ADVICE finding). */
  def clearMemos(): Unit = {
    lpaMemo.clear()
    triMemo.clear()
    coMemo.clear()
    bfsMemo.clear()
    repeatMemo.clear()
  }

  /** Declared LPA query: community rollup (id = min member label,
    * size, member span) over the repeat co-purchase graph. */
  def communities(s: SparkSession, d: String): DataFrame =
    lpaLabels(s, d)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("n_nodes").desc, col("community"))

  /** Newman modularity of the LPA partition — the quality number that
    * says whether [[communities]] found structure or noise. Q =
    * intra/m − Σ_c d_c²/(4m²), assembled from FOUR exact integer
    * moments (m, |C|, intra-edge count, Σ degree-sums²) so the only
    * floating point is the final two divisions and one subtraction —
    * identical cross-engine. All relations after the LPA rounds are
    * |V|- or |C|-sized; the 1-row moment tables meet in broadcast
    * cross joins. Long moments bound the operator at d_c ≲ 3×10⁹
    * (Σd_c² < 2⁶³) — beyond that the moments want DECIMAL, noted here
    * rather than silently wrong. Shares [[lpaLabels]]' fixed point
    * with [[communities]] — the pair costs one LPA loop. */
  def modularity(s: SparkSession, d: String): DataFrame =
    modularityFrom(Iterate.leafOr(repeatCoEdges(s, d)), lpaLabels(s, d))

  /** Fixture face: runs its own LPA over the given edges (GraphSpec's
    * hand-solved graphs don't route through the session memo). */
  private[graft] def modularityCore(edges: DataFrame): DataFrame = {
    val e = Iterate.leaf(edges)
    modularityFrom(e, labelPropagation(e))
  }

  /** Moment assembly over an already-materialized edge relation and
    * its label partition (three consumers of `e`: m, intra, deg).
    *
    * The |V|-row label side joins under the SAME size-gated explicit
    * broadcast the LPA loop uses, bounded by the label leaf's own row
    * count ([[Iterate.fits]]). Leaving
    * the choice to AQE here was correct in outcome but NONDETERMINISTIC
    * in the recorded plan: the intra branch stacks two label joins, and
    * whether the second join's streamed-side shuffle materialized
    * before AQE's SMJ→BHJ re-plan was a stage-scheduling race — the
    * executed plan flipped between 6 and 7 exchanges across otherwise
    * identical runs (caught by PlanBudgetSpec's exact-equality gate).
    * An explicit gated broadcast plans BHJ from the start, so the racy
    * shuffle is never submitted; past the gate it degrades to the
    * shuffled join exactly like the loop itself. */
  private def modularityFrom(e: DataFrame, labels: DataFrame): DataFrame = {
    val gate = Iterate.broadcastIf(Iterate.fits(labels))
    val m = e.agg(count(lit(1)).as("m"))
    val intra = e
      .join(gate(labels.select(col("node").as("u"), col("label").as("lu"))), Seq("u"))
      .join(gate(labels.select(col("node").as("v"), col("label").as("lv"))), Seq("v"))
      .filter(col("lu") === col("lv"))
      .agg(count(lit(1)).as("intra_edges"))
    val dc = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .join(gate(labels), Seq("node"))
      .groupBy(col("label")).agg(sum(col("deg")).as("d_c"))
    val sums = dc.agg(count(lit(1)).as("n_communities"),
      sum(col("d_c") * col("d_c")).as("sum_deg_sq"))
    m.crossJoin(broadcast(intra)).crossJoin(broadcast(sums))
      .select(col("m"), col("n_communities"), col("intra_edges"),
        col("sum_deg_sq"),
        round(col("intra_edges").cast("double") / col("m")
          - col("sum_deg_sq").cast("double")
            / (lit(4.0) * col("m") * col("m")), 6).as("modularity"))
      .orderBy(col("m"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_communities" -> communities,
    "q_modularity" -> modularity,
    "q_hits" -> hits,
    "q_link_predict" -> linkPrediction,
    "q_graph_walks" -> graphWalks,
    "q_triangles" -> triangles,
    "q_triangles_approx" -> trianglesApprox,
    "q_triangles_est" -> trianglesEst,
    "q_clustering" -> clusteringCoeff,
    "q_kcore"     -> kcore,
    "q_bfs"       -> bfsQuery,
    "q_sssp"      -> ssspQuery,
    "q_centrality" -> centrality,
    "q_assortativity" -> assortativity,
    "q_assoc_rules"   -> assocRules,
  )

  /** Shared co-occurrence edge SQL (the q_triangles CTE's body). */
  private val coEdgesSql =
    """SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""

  /** 8-round unrolled peel — covers the observed 2–3 rounds at every
    * harness SF with >2× margin; GraphSpec pins convergence within 8
    * on the real graph, so a corpus needing more rounds trips the
    * spec before it can silently diverge from this oracle. */
  private val kcoreOracle: String = {
    val rounds = (1 to 8).map { r =>
      s"""d$r AS MATERIALIZED (SELECT n, count(*) AS deg FROM
            (SELECT u AS n FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1}) t GROUP BY n),
          e$r AS MATERIALIZED (SELECT e${r - 1}.u, e${r - 1}.v FROM e${r - 1}
            JOIN d$r a ON a.n = e${r - 1}.u AND a.deg >= $KCoreK
            JOIN d$r b ON b.n = e${r - 1}.v AND b.deg >= $KCoreK)"""
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED ($coEdgesSql),
       $rounds
       SELECT n AS node, CAST(count(*) AS BIGINT) AS deg FROM
         (SELECT u AS n FROM e8 UNION ALL SELECT v FROM e8) t
       GROUP BY n ORDER BY node"""
  }

  /** 8-round unrolled min-distance propagation — the measured source
    * eccentricity is 2 (sf0.001/sf0.01) and 3 (sf0.1), so 8 rounds
    * carry >2× margin; GraphSpec pins convergence within 8 on the real
    * graph. Each round: dist(n) = min(dist(n), 1 + dist(neighbor)). */
  /** Shared 8-round unrolled BFS CTE body (b8 = the fixed point on
    * this graph — convergence within 8 is GraphSpec-pinned). */
  private def bfsCtePrefix: String = {
    val rounds = (1 to 8).map { r =>
      s"""b$r AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM b${r - 1}
              UNION ALL
              SELECT s.b AS node, p.dist + 1 AS dist
              FROM b${r - 1} p JOIN sym s ON s.a = p.node) t
            GROUP BY node)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($coEdgesSql),
       sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
       b0 AS (SELECT $BfsSource AS node, 0 AS dist),
       $rounds"""
  }

  private val bfsOracle: String =
    s"""$bfsCtePrefix
       SELECT node, CAST(dist AS INT) AS dist FROM b8 ORDER BY node"""

  /** 8-round unrolled min-plus (Bellman-Ford) over the weighted
    * co-purchase graph — round r holds the exact minimum cost over
    * ≤ r-edge paths, the same relation [[sssp]]'s frontier loop
    * computes (integer costs, so no float to diverge). */
  private val ssspOracle: String = {
    val rounds = (1 to SsspRounds).map { r =>
      s"""d$r AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM d${r - 1}
              UNION ALL
              SELECT s.b AS node, p.dist + s.w AS dist
              FROM d${r - 1} p JOIN sym s ON s.a = p.node) t
            GROUP BY node)"""
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       e AS MATERIALIZED (
         SELECT a.pk AS u, b.pk AS v,
                6 - least(count(*), 5) AS w
         FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         GROUP BY a.pk, b.pk),
       sym AS MATERIALIZED (
         SELECT u AS a, v AS b, w FROM e UNION ALL SELECT v, u, w FROM e),
       d0 AS (SELECT $BfsSource AS node, CAST(0 AS BIGINT) AS dist),
       $rounds
       SELECT node, CAST(dist AS BIGINT) AS dist FROM d$SsspRounds ORDER BY node"""
  }

  // same dist-grouped counts, same ≤ecc-term harmonic sum, same
  // exact-long closeness division
  private val centralityOracle: String =
    s"""$bfsCtePrefix,
       g AS (SELECT dist, count(*) AS c FROM b8 WHERE dist > 0 GROUP BY dist)
       SELECT CAST(sum(c) AS BIGINT) AS n_reached,
         CAST(max(dist) AS INT) AS ecc,
         CAST(sum(c * dist) AS BIGINT) AS sum_dist,
         round(sum(c) / CAST(sum(c * dist) AS DOUBLE), 6) AS closeness,
         round(sum(c / CAST(dist AS DOUBLE)), 6) AS harmonic
       FROM g ORDER BY n_reached"""

  /** 8-iteration HITS unroll: a = AᵀH then h = Aa per round, every
    * intermediate MATERIALIZED (the PageRank-oracle lesson), one
    * normalization division at the very end. */
  private val hitsOracle: String = {
    val iters = (1 to 8).map { i =>
      s"""a$i AS MATERIALIZED (SELECT dst, sum(h) AS a
            FROM edges JOIN h${i - 1} ON src = node GROUP BY dst),
         h$i AS MATERIALIZED (SELECT src AS node, sum(a) AS h
            FROM edges e JOIN a$i ON e.dst = a$i.dst GROUP BY src)"""
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
         SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS h FROM edges),
       $iters
       SELECT 'auth' AS kind, dst AS node,
         round(a / (SELECT sum(a) FROM a8), 6) AS score FROM a8
       UNION ALL
       SELECT 'hub', node, round(h / (SELECT sum(h) FROM h8), 6) FROM h8
       ORDER BY kind, node"""
  }

  /** Shared 5-round unrolled sync LPA chain (through l5) — same vote
    * counting, same (count desc, label asc) tie order via
    * row_number. */
  private def lpaCtePrefix: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""v$r AS MATERIALIZED (SELECT s.a, l.label, count(*) AS n
            FROM sym s JOIN l${r - 1} l ON s.b = l.node GROUP BY 1, 2),
         l$r AS MATERIALIZED (SELECT a AS node, label FROM (
            SELECT a, label, row_number() OVER (PARTITION BY a
              ORDER BY n DESC, label) AS rn FROM v$r) t WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
         SELECT a.l_partkey AS u, b.l_partkey AS v
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2 HAVING count(*) >= 2),
       sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
       l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
       $rounds"""
  }

  private val communitiesOracle: String =
    s"""$lpaCtePrefix
       SELECT label AS community, count(*) AS n_nodes,
         min(node) AS min_node, max(node) AS max_node
       FROM l$LpaRounds GROUP BY label
       ORDER BY n_nodes DESC, community"""

  // same exact-integer moments, same two-division modularity form
  private val modularityOracle: String =
    s"""$lpaCtePrefix,
       deg AS (SELECT a AS node, count(*) AS deg FROM sym GROUP BY 1),
       dc AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS d_c
         FROM deg d JOIN l$LpaRounds l ON d.node = l.node GROUP BY 1),
       s AS (SELECT
         (SELECT CAST(count(*) AS BIGINT) FROM e) AS m,
         (SELECT CAST(count(*) AS BIGINT) FROM dc) AS n_communities,
         (SELECT CAST(count(*) AS BIGINT) FROM e
            JOIN l$LpaRounds lu ON e.u = lu.node
            JOIN l$LpaRounds lv ON e.v = lv.node
            WHERE lu.label = lv.label) AS intra_edges,
         (SELECT CAST(sum(d_c * d_c) AS BIGINT) FROM dc) AS sum_deg_sq)
       SELECT m, n_communities, intra_edges, sum_deg_sq,
         round(CAST(intra_edges AS DOUBLE) / m
               - CAST(sum_deg_sq AS DOUBLE) / (4.0 * m * m), 6) AS modularity
       FROM s ORDER BY m"""

  /** The walk recurrence unrolled: the same ranked adjacency, the same
    * walk#-prefixed portable-hash picks, [[WalkSteps]] chained joins. */
  private val graphWalksOracle: String = {
    def hash(expr: String) = PortableStringHash.duckdbSql(expr, Text.HashMod)
    val steps = (1 to WalkSteps).map { k =>
      s""",
         w$k AS (SELECT start, walk, b AS cur, path || ' ' || CAST(b AS VARCHAR) AS path
                 FROM w${k - 1} w JOIN adj ON adj.a = w.cur
                 WHERE rk = ${hash(s"'walk#' || CAST(start AS VARCHAR) || '#' || CAST(walk AS VARCHAR) || '#$k'")} % deg + 1)"""
    }.mkString
    s"""WITH e AS MATERIALIZED ($coEdgesSql),
       sym AS MATERIALIZED (
         SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
       adj AS MATERIALIZED (
         SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS rk,
                count(*) OVER (PARTITION BY a) AS deg
         FROM sym),
       f AS (SELECT DISTINCT a AS start FROM sym WHERE a % 100 = 7),
       w0 AS (SELECT start, t.walk, start AS cur, CAST(start AS VARCHAR) AS path
              FROM f, (SELECT unnest([${(0 until WalksPerNode).mkString(", ")}]) AS walk) t)$steps
       SELECT start, CAST(walk AS INT) AS walk, path, cur AS end_node
       FROM w$WalkSteps ORDER BY start, walk"""
  }

  val oracles: Map[String, String] = Map(
    "q_communities" -> communitiesOracle,
    "q_modularity" -> modularityOracle,
    "q_hits" -> hitsOracle,
    // the same ranked adjacency + walk#-hash picks, steps unrolled
    "q_graph_walks" -> graphWalksOracle,
    // same quantized integer weights (floor(1e6/ln deg) — identical
    // double division then floor), same exact-long score sums, same
    // canonical-pair exclusion and per-focal total-order rank
    "q_link_predict" ->
      s"""WITH e AS MATERIALIZED ($coEdgesSql),
         sym AS MATERIALIZED (SELECT u AS a, v AS z FROM e UNION ALL SELECT v, u FROM e),
         wz AS (SELECT z, CAST(floor(1000000.0 / ln(deg)) AS BIGINT) AS w FROM
                  (SELECT z, count(*) AS deg FROM sym GROUP BY z)
                WHERE deg >= 2 AND deg <= $MaxAaDegree),
         sc AS (SELECT f.a, s.a AS b, count(*) AS common_neighbors,
                  CAST(sum(w) AS BIGINT) AS aa_micros
                FROM sym f JOIN sym s ON f.z = s.z AND f.a != s.a
                JOIN wz ON wz.z = f.z
                WHERE f.a % 100 = 7
                GROUP BY f.a, s.a),
         ne AS (SELECT sc.* FROM sc
                LEFT JOIN e ON least(sc.a, sc.b) = e.u AND greatest(sc.a, sc.b) = e.v
                WHERE e.u IS NULL),
         r AS (SELECT *, CAST(row_number() OVER (
                 PARTITION BY a ORDER BY aa_micros DESC, b) AS INT) AS rank
               FROM ne)
         SELECT a, b, rank, common_neighbors, aa_micros,
           round(aa_micros / 1000000.0, 6) AS adamic_adar
         FROM r WHERE rank <= 5 ORDER BY a, rank""",
    // same distinct-basket pair counts, same top-20 total-order cut,
    // same single-division closed forms on exact-integer operands
    "q_assoc_rules" ->
      """WITH b AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
         supp AS (SELECT item, count(*) AS supp FROM b GROUP BY item),
         nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM b),
         p AS (SELECT a.item AS u, b2.item AS v, count(*) AS n_ab
               FROM b a JOIN b b2 ON a.ok = b2.ok AND a.item < b2.item
               GROUP BY a.item, b2.item),
         top AS (SELECT * FROM p ORDER BY n_ab DESC, u, v LIMIT 20)
         SELECT t.u, t.v, CAST(t.n_ab AS BIGINT) AS n_ab,
                CAST(su.supp AS BIGINT) AS supp_u,
                CAST(sv.supp AS BIGINT) AS supp_v,
                round(t.n_ab * 1.0 / su.supp, 6) AS confidence,
                round((t.n_ab * nb.n_baskets) * 1.0
                      / (su.supp * sv.supp), 6) AS lift
         FROM top t
         JOIN supp su ON t.u = su.item
         JOIN supp sv ON t.v = sv.item
         CROSS JOIN nb
         ORDER BY u, v""",
    "q_bfs"   -> bfsOracle,
    // same integer hop costs (6 − min(shared orders, 5)), same
    // 8-round min-plus unroll — the ≤8-edge cheapest-path relation
    // both engines compute exactly (see sssp's bounded-hop contract)
    "q_sssp"  -> ssspOracle,
    "q_centrality" -> centralityOracle,
    "q_kcore" -> kcoreOracle,
    // same integer moments divided FIRST (the mean form — the
    // cross-moment form overflows int64 asymmetrically across engines)
    "q_assortativity" ->
      s"""WITH e AS MATERIALIZED ($coEdgesSql),
         deg AS (SELECT n, count(*) AS deg FROM
           (SELECT u AS n FROM e UNION ALL SELECT v FROM e) t GROUP BY n),
         p AS (SELECT a.deg AS du, b.deg AS dv
               FROM e JOIN deg a ON e.u = a.n JOIN deg b ON e.v = b.n),
         s AS (SELECT du, dv FROM p UNION ALL SELECT dv, du FROM p),
         agg AS (SELECT count(*) AS m2,
                        CAST(sum(du) AS BIGINT) AS sx,
                        CAST(sum(du * du) AS BIGINT) AS sxx,
                        CAST(sum(du * dv) AS BIGINT) AS sxy
                 FROM s),
         mm AS (SELECT m2,
                       CAST(sx AS DOUBLE) / m2 AS mx,
                       CAST(sxy AS DOUBLE) / m2 AS mxy,
                       CAST(sxx AS DOUBLE) / m2 AS mxx
                FROM agg)
         SELECT m2 AS n_endpoints,
                round(CASE WHEN mxx - mx * mx > 0
                  THEN (mxy - mx * mx) / (mxx - mx * mx) END, 6) AS assortativity
         FROM mm ORDER BY n_endpoints""",
    "q_triangles" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                 FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         nodes AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM nodes GROUP BY node ORDER BY node""",
    // same portable hash-sampled edge subset (constants interpolated
    // from the TriSample* vals — lockstep-constant rule), same
    // triangle enumeration on the thinned graph, same exact-integer
    // 1/p³ scale-up; id-ordered chain enumeration counts each
    // triangle once exactly like the engine's degree-oriented wedges
    "q_triangles_est" ->
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         s AS MATERIALIZED (SELECT u, v FROM e
             WHERE ((((u % $TriHashP) * $TriHashA + (v % $TriHashP) * $TriHashB) % $TriHashP) * $TriHashA2 + $TriHashC) % $TriHashP % $TriSampleMod = $TriSampleResidue)
         ,est AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_sampled,
             (SELECT CAST(count(*) AS BIGINT) FROM s e1
                JOIN s e2 ON e1.v = e2.u
                JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v) AS tri_sampled)
         SELECT n_edges, n_sampled, tri_sampled,
                CAST(tri_sampled * ${TriSampleMod * TriSampleMod * TriSampleMod} AS BIGINT) AS estimate
         FROM est ORDER BY n_edges""",
    // the estimator columns above plus the exact enumeration and the
    // single-division error readout (the A32 estimate/exact/envelope
    // pattern)
    "q_triangles_approx" ->
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         s AS MATERIALIZED (SELECT u, v FROM e
             WHERE ((((u % $TriHashP) * $TriHashA + (v % $TriHashP) * $TriHashB) % $TriHashP) * $TriHashA2 + $TriHashC) % $TriHashP % $TriSampleMod = $TriSampleResidue),
         est AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_sampled,
             (SELECT CAST(count(*) AS BIGINT) FROM s e1
                JOIN s e2 ON e1.v = e2.u
                JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v) AS tri_sampled,
             (SELECT CAST(count(*) AS BIGINT) FROM e e1
                JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_exact)
         SELECT n_edges, n_sampled, tri_sampled,
                CAST(tri_sampled * ${TriSampleMod * TriSampleMod * TriSampleMod} AS BIGINT) AS estimate,
                n_exact,
                round((tri_sampled * ${TriSampleMod * TriSampleMod * TriSampleMod} - n_exact) * 100.0 / n_exact, 2) AS err_pct
         FROM est ORDER BY n_edges""",
    // same triangle enumeration + the degree rollup over the same
    // edge set; the one double division is fixed-tree over integers
    "q_clustering" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                 FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         nodes AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
         tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM nodes GROUP BY node),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
             (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node)
         SELECT d.node, deg, coalesce(n_tri, 0) AS n_tri,
           round(CAST(2 AS DOUBLE) * coalesce(n_tri, 0) / (deg * (deg - 1)), 6) AS coeff
         FROM deg d LEFT JOIN tc ON d.node = tc.node
         WHERE deg >= 2
         ORDER BY d.node""",
  )
}
