package graft

import graft.ops.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting: hand fixtures + an orientation-invariance check
  * against the naive id-ordered enumeration (the oracle's shape). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (Long, Long)*): DataFrame =
    es.toDF("u", "v")

  test("HITS: bipartite ordering, L1 normalization, multiplicity counted") {
    // c1→{s1,s2}, c2→{s1}: s1 draws from both hubs → top authority;
    // c1 spreads over both authorities → top hub. Scores are L1-
    // normalized per kind (each side sums to 1 up to the 1e-6 round).
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hitsCore(e, 8).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got(("auth", 10L)) > got(("auth", 11L)), got.toString)
    assert(got(("hub", 1L)) > got(("hub", 2L)), got.toString)
    Seq("auth", "hub").foreach { k =>
      val s = got.collect { case ((`k`, _), v) => v }.sum
      assert(math.abs(s - 1.0) < 1e-5, s"$k scores must sum to 1: $s")
    }
    // a parallel edge is weight 2, not a set: doubling c2→s1 must
    // strictly raise s1's share
    val e2 = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 10L)).toDF("src", "dst")
    val got2 = Graph.hitsCore(e2, 8).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got2(("auth", 10L)) > got(("auth", 10L)), s"$got2 vs $got")
  }

  test("HITS: 1 and 2 iterations give the hand-computed scores") {
    // h0 = 1 per hub. Iteration 1: a10 = h1 + h2 = 2, a11 = h1 = 1;
    // h1 = a10 + a11 = 3, h2 = a10 = 2. Iteration 2: a = (5, 3),
    // h = (8, 5). Scores are each vector over its own total.
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    def scores(iterations: Int) = Graph.hitsCore(e, iterations).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scores(1) == Map(("auth", 10L) -> 0.666667, ("auth", 11L) -> 0.333333,
      ("hub", 1L) -> 0.6, ("hub", 2L) -> 0.4))
    assert(scores(2) == Map(("auth", 10L) -> 0.625, ("auth", 11L) -> 0.375,
      ("hub", 1L) -> 0.615385, ("hub", 2L) -> 0.384615))
  }

  test("LPA: two cliques joined by a bridge resolve to two communities") {
    // cliques {1,2,3} and {10,11,12} with bridge 3–10. Each clique
    // node sees ≥2 same-clique votes vs ≤1 across the bridge, so mode
    // propagation keeps the cliques internally uniform and never
    // merges them (which label wins inside a clique depends on
    // round-1 tie leakage across the bridge — the PARTITION is the
    // contract, not the label value).
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val got = Graph.labelPropagation(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(got).size == 1, got.toString)
    assert(Set(10L, 11L, 12L).map(got).size == 1, got.toString)
    assert(got(1L) != got(10L), s"cliques must not merge: $got")
  }

  test("LPA: tie between neighbor labels breaks toward the smaller label") {
    // path 1–2–3 after round 1: node 2 sees {1,3} once each → takes 1.
    val got = Graph.labelPropagation(edges((1L, 2L), (2L, 3L)), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) == 1L, got.toString)
    assert(got(1L) == 2L && got(3L) == 2L, // their only neighbor
      got.toString)
  }

  test("modularity: hand-solved two disconnected triangles give Q = 0.5") {
    // m=6, LPA keeps the triangles separate, every edge intra; each
    // node degree 2 → d_c = 6 per community, Σd_c² = 72;
    // Q = 6/6 − 72/(4·36) = 0.5
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val r = Graph.modularityCore(e).collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 2L &&
      r.getLong(2) == 6L && r.getLong(3) == 72L, r.toString)
    assert(r.getDouble(4) == 0.5, r.toString)
  }

  test("centrality: closed forms on a hand-solved path graph") {
    // BFS relation of path 0-1-2-3 from source 0: n_reached = 3,
    // ecc = 3, Σd = 6, closeness = 3/6, harmonic = 1 + 1/2 + 1/3
    val dists = Seq((0L, 0), (1L, 1), (2L, 2), (3L, 3)).toDF("node", "dist")
    val r = Graph.centralityCore(dists).collect().head
    def rd(x: Double) = math.rint(x * 1e6) / 1e6
    assert(r.getLong(0) == 3L && r.getInt(1) == 3 && r.getLong(2) == 6L, r.toString)
    assert(r.getDouble(3) == 0.5, r.toString)
    assert(r.getDouble(4) == rd(1.0 + 0.5 + 1.0 / 3.0), r.toString)
  }

  /** The oracle-shaped naive enumeration: e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)
    * over id-ordered edges — per-node counts must be identical to the
    * degree-ordered engine enumeration for any graph. */
  private def naive(e: DataFrame): Map[Long, Long] = {
    val e1 = e.select(col("u").as("a"), col("v").as("b"))
    val e2 = e.select(col("u").as("b"), col("v").as("c"))
    val e3 = e.select(col("u").as("a"), col("v").as("c"))
    val tri = e1.join(e2, "b").join(e3, Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def got(e: DataFrame): Map[Long, Long] =
    Graph.triangleCounts(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K4: every vertex sits in 3 of the 4 triangles") {
    val k4 = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    assert(got(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("bipartite graph has no triangles") {
    val bip = edges(1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 11L)
    assert(got(bip).isEmpty)
  }

  test("triangle + pendant edge: pendant vertex uncounted") {
    val g = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 9L)
    assert(got(g) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("clustering coefficient: closed forms on triangle+pendant, K4 fully clustered, paths at zero") {
    def coeffs(e: DataFrame): Map[Long, (Long, Long, Double)] =
      Graph.clusteringCoeffCore(e).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // triangle {1,2,3} + pendant (3,9): 1 and 2 fully clustered, 3 has
    // one of C(3,2)=3 neighbor pairs closed, 9 (deg 1) excluded
    val g = coeffs(edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 9L))
    assert(g == Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 1L, 0.333333))), g.toString)
    // K4: every pair of any vertex's 3 neighbors is connected
    val k4 = coeffs(edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L))
    assert(k4.values.forall { case (d, t, c) => d == 3 && t == 3 && c == 1.0 }, k4.toString)
    // path graph: interior nodes have degree 2, zero triangles → 0.0,
    // present in the output (zero is a fact, not a missing row)
    val path = coeffs(edges(1L -> 2L, 2L -> 3L, 3L -> 4L))
    assert(path == Map(2L -> ((2L, 0L, 0.0)), 3L -> ((2L, 0L, 0.0))), path.toString)
  }

  test("degree-ordered enumeration matches naive enumeration on the real graph") {
    val e = Graph.coEdges(spark, sf0001)
    assert(got(e) == naive(e))
  }

  test("above the broadcast gate the shuffled closing join gives identical counts") {
    // broadcast joins off force the degraded (web-scale) path; same triangles
    val e = Graph.coEdges(spark, sf0001)
    val (default, shuffled) = bothRegimes("triangles")(Graph.triangleCounts(e))
    assert(shuffled == default)
    assert(shuffled.map(r => r.getLong(0) -> r.getLong(1)).toMap == got(e))
  }

  test("past every size gate the graph loops plan shuffled joins and give the same answers") {
    val e = Graph.coEdges(spark, sf0001)
    val cases = Seq[(String, () => DataFrame)](
      "connected components" -> (() => ops.Components.connectedComponents(
        e.select(col("u").as("src"), col("v").as("dst")))),
      "label propagation" -> (() => Graph.labelPropagation(e)),
      "k-core" -> (() => Graph.kCore(e, Graph.KCoreK)),
      "link prediction" -> (() => Graph.linkPredictionCore(e, topPerNode = 5)),
      "graph walks" -> (() => Graph.graphWalksCore(e)),
      "BFS" -> (() => Graph.bfs(e, Graph.BfsSource)),
      "SSSP" -> (() => Graph.sssp(Graph.weightedCoEdges(spark, sf0001), Graph.BfsSource)),
      "modularity" -> (() => Graph.modularityCore(e)),
      "HITS" -> (() => Graph.hitsCore(ops.PageRank.starEdgesDirected(spark, sf0001), 8)))
    for ((what, q) <- cases) {
      val (default, shuffled) = bothRegimes(what)(q())
      assert(default.nonEmpty && shuffled == default, s"$what: the regimes disagree")
    }
  }

  test("sampled estimator: p = 1 degenerate case equals the exact count on the real graph") {
    // mod = 1 keeps every edge — the estimator's plumbing (edge count,
    // sample count, thinned-graph enumeration, 1/p³ scale-up) pinned
    // with zero sampling luck involved
    val e = Graph.coEdges(spark, sf0001)
    val exact = naive(e).values.sum / 3
    val r = Graph.triangleEstimateCore(e, mod = 1L, residue = 0L).collect().head
    assert(r.getLong(0) == e.count(), r.toString)
    assert(r.getLong(1) == r.getLong(0), s"mod-1 must keep every edge: $r")
    assert(r.getLong(2) == exact, r.toString)
    assert(r.getLong(3) == exact, s"estimate must be tri_sampled x 1 at p=1: $r")
  }

  test("sampled estimator: hash-selected subset reproduced by hand on K40") {
    // mirror the two-round portable hash and brute-force the surviving
    // triangles; the engine must agree on every column and scale the
    // estimate by exactly mod³
    def keep(u: Long, v: Long): Boolean = {
      val x1 = ((u % Graph.TriHashP) * Graph.TriHashA
        + (v % Graph.TriHashP) * Graph.TriHashB) % Graph.TriHashP
      (x1 * Graph.TriHashA2 + Graph.TriHashC) % Graph.TriHashP %
        Graph.TriSampleMod == Graph.TriSampleResidue
    }
    val vs = 1L to 40L
    val all = for (a <- vs; b <- vs if a < b) yield (a, b)
    val kept = all.filter { case (a, b) => keep(a, b) }.toSet
    assert(kept.nonEmpty && kept.size < all.size, s"degenerate sample: ${kept.size}/${all.size}")
    val triKept = (for {
      a <- vs; b <- vs if a < b; c <- vs if b < c
      if kept((a, b)) && kept((a, c)) && kept((b, c))
    } yield 1).size.toLong
    val r = Graph.triangleEstimateCore(edges(all: _*)).collect().head
    assert(r.getLong(0) == all.size.toLong, r.toString)
    assert(r.getLong(1) == kept.size.toLong, r.toString)
    assert(r.getLong(2) == triKept, r.toString)
    val mod3 = Graph.TriSampleMod * Graph.TriSampleMod * Graph.TriSampleMod
    assert(r.getLong(3) == triKept * mod3, r.toString)
  }

  test("approx envelope query: err_pct is the single-division readout of its own columns") {
    Graph.clearMemos()
    val r = Graph.trianglesApprox(spark, sf0001).collect().head
    val (est, exact, err) = (r.getLong(3), r.getLong(4), r.getDouble(5))
    assert(exact > 0, s"harness graph must have triangles: $r")
    assert(err == BigDecimal((est - exact) * 100.0 / exact)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, r.toString)
    // and the exact tier agrees with the naive enumeration
    assert(exact == naive(Graph.coEdges(spark, sf0001)).values.sum / 3, r.toString)
  }

  test("k-core: K5 survives k=4 peeling, pendant chain peels away") {
    // K5 (each degree 4) + a chain hanging off node 1
    val k5 = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)) ++
      Seq((1L, 10L), (10L, 11L))
    val got = Graph.kCore(edges(k5: _*), k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 5L).map(_ -> 4L).toMap, got)
  }

  test("k-core above the max degree is empty, not an error") {
    val got = Graph.kCore(edges(1L -> 2L, 2L -> 3L), k = 10).collect()
    assert(got.isEmpty)
  }

  test("k-core on the real graph: fixed point within the oracle's 8-round unroll") {
    // maxRounds = 8 — converging here proves the unrolled oracle is
    // deep enough (a corpus needing more rounds fails this spec
    // before it can silently diverge from the 8-round SQL)
    val core = Graph.kCore(Graph.coEdges(spark, sf0001), Graph.KCoreK, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(core.nonEmpty)
    assert(core.forall(_._2 >= Graph.KCoreK), "every core node keeps degree >= k")
  }

  private def bfsMap(e: DataFrame, src: Long, maxRounds: Int = 30): Map[Long, Int] =
    Graph.bfs(e, src, maxRounds).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("BFS: path graph gets hop-exact distances") {
    val path = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    assert(bfsMap(path, 1L) == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("BFS: chord shortcuts win (min distance, not any distance)") {
    // square 1-2-3-4-1 plus chord 1-3: dist(3) must be 1, not 2
    val g = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L, 1L -> 3L)
    assert(bfsMap(g, 1L) == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1))
  }

  test("BFS: disconnected component is absent, not sentinel-distanced") {
    val g = edges(1L -> 2L, 5L -> 6L)
    assert(bfsMap(g, 1L) == Map(1L -> 0, 2L -> 1))
  }

  test("BFS on the real graph: converges within the oracle's 8-round unroll") {
    // maxRounds = 8 — same unroll-sufficiency pin as k-core: a corpus
    // whose source eccentricity outgrows the 8-round SQL fails here
    // before the oracle can silently truncate distances
    val d = bfsMap(Graph.coEdges(spark, sf0001), Graph.BfsSource, maxRounds = 8)
    assert(d(Graph.BfsSource) == 0)
    assert(d.values.max <= 7, s"eccentricity ${d.values.max} leaves no unroll margin")
  }

  test("hub skew: star + one closing edge (degree ordering must not double count)") {
    // hub 1 connects to 2..8; only edge (2,3) closes a triangle
    val star = (2L to 8L).map(i => 1L -> i) :+ (2L -> 3L)
    assert(got(edges(star: _*)) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("assoc rules: hand-counted supports, confidence asymmetric, lift 1 at independence") {
    // baskets: {1,2,3} {1,2} {1,3} {1} → supp 1:4, 2:2, 3:2;
    // pairs (1,2):2 (1,3):2 (2,3):1; n_baskets = 4
    val baskets = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L),
      (13L, 1L),
    ).toDF("ok", "item")
    val rows = Graph.assocRulesCore(baskets, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    // conf(1→2) = 2/4 = 0.5 (antecedent is the ubiquitous item);
    // lift = 2·4/(4·2) = 1.0 — independence with the always-bought item
    assert(rows((1L, 2L)) == ((2L, 4L, 2L, 0.5, 1.0)), rows.toString)
    assert(rows((1L, 3L)) == ((2L, 4L, 2L, 0.5, 1.0)), rows.toString)
    // (2,3) co-occur once in 4 baskets: conf 0.5, lift 4/4 = 1.0
    assert(rows((2L, 3L)) == ((1L, 2L, 2L, 0.5, 1.0)), rows.toString)
    // topK = 2 must keep the two highest-support pairs only
    assert(Graph.assocRulesCore(baskets, topK = 2).collect().length == 2)
  }

  test("assortativity: a star is perfectly disassortative, a clique degenerates to NULL") {
    // star 1-{2,3,4}: every edge joins deg 3 to deg 1 → r = −1
    val star = ops.Graph.assortativityCore(edges(1L -> 2L, 1L -> 3L, 1L -> 4L))
      .collect().head
    assert(star.getLong(0) == 6L && star.getDouble(1) == -1.0, star.toString)
    // triangle: all degrees equal → zero variance → NULL, not NaN
    val tri = ops.Graph.assortativityCore(edges(1L -> 2L, 2L -> 3L, 1L -> 3L))
      .collect().head
    assert(tri.isNullAt(1), tri.toString)
  }

  test("link prediction: hand-solved AA weight, existing edges excluded, focal-only output") {
    // graph: 7–1, 7–2, 1–2, 1–3, 2–3; focal = node 7 (id ≡ 7 mod 100).
    // the only fresh suggestion is 3, via common neighbors 1 and 2
    // (both deg 3): w = floor(1e6/ln 3) = 910239, score = 2·w.
    // neighbors 1 and 2 share z's with 7 too but are existing edges.
    val got = ops.Graph.linkPredictionCore(
      edges(1L -> 7L, 2L -> 7L, 1L -> 2L, 1L -> 3L, 2L -> 3L), topPerNode = 5)
      .collect()
    assert(got.length == 1, got.mkString(";"))
    val r = got.head
    assert(r.getLong(0) == 7L && r.getLong(1) == 3L && r.getInt(2) == 1)
    assert(r.getLong(3) == 2L, "two common neighbors")
    assert(r.getLong(4) == 2L * math.floor(1e6 / math.log(3.0)).toLong, r.toString)
    assert(r.getDouble(5) == 1.820478, r.toString)
  }

  test("link prediction hub cap: over-cap common neighbors generate no wedges") {
    // hub 0 has degree 5; z = 5 has degree 2. Both are common
    // neighbors of the focal pair (7, 107). Capped at 4, the hub is
    // excluded BEFORE wedge expansion: only z = 5 scores.
    val g = edges(7L -> 0L, 107L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      7L -> 5L, 107L -> 5L)
    val capped = ops.Graph.linkPredictionCore(g, topPerNode = 5, maxDegree = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    val w2 = math.floor(1e6 / math.log(2.0)).toLong
    assert(capped((7L, 107L)) == ((1L, w2)), capped.toString)
    // uncapped (default cap 1024 ≫ 5): both z's count
    val full = ops.Graph.linkPredictionCore(g, topPerNode = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    val w5 = math.floor(1e6 / math.log(5.0)).toLong
    assert(full((7L, 107L)) == ((2L, w2 + w5)), full.toString)
  }

  test("link prediction cost model: wedge rows = Σ_z deg_focal(z)·(deg(z)−1), the checked d̄² contract") {
    // the pre-aggregation wedge relation IS the operator's cost:
    // |batch|·d̄² growth is derived from measured degrees, not assumed
    // — a regression that re-expands hub wedges (or a corpus change
    // that breaks the near-regular premise) moves `actual` off the
    // closed form and fails here rather than surfacing as a silent
    // slope blow-up at the next scale point.
    val e = Graph.coEdges(spark, sf0001).localCheckpoint()
    val actual = Graph.aaWedges(e, Graph.MaxAaDegree).count()
    val sym = e.select(col("u").as("a"), col("v").as("z"))
      .unionByName(e.select(col("v").as("a"), col("u").as("z")))
    val model = sym.groupBy(col("z"))
      .agg(count(lit(1)).as("deg"),
        count(when(pmod(col("a"), lit(100)) === 7, 1)).as("deg7"))
      .filter(col("deg") >= 2 && col("deg") <= Graph.MaxAaDegree)
      .agg(sum(col("deg7") * (col("deg") - 1)).as("wedges"))
      .head.getLong(0)
    assert(actual == model, s"wedge rows $actual != closed form $model")
    // and the cap bounds the per-focal-endpoint fan-out by cap − 1
    val focalAdj = sym.filter(pmod(col("a"), lit(100)) === 7).count()
    assert(actual <= focalAdj * (Graph.MaxAaDegree - 1),
      s"$actual wedges exceed the cap bound ${focalAdj * (Graph.MaxAaDegree - 1)}")
  }

  test("communities and modularity share one LPA fixed point per session+dir") {
    Graph.clearMemos()
    val before = Graph.lpaExecutions.get()
    val c = Graph.communities(spark, sf0001).collect()
    val m = Graph.modularity(spark, sf0001).collect()
    assert(c.nonEmpty && m.nonEmpty)
    assert(Graph.lpaExecutions.get() == before + 1,
      "the declared pair must execute the 5-round LPA loop exactly once")
    Graph.clearMemos()
  }

  test("modularity builds the repeat co-purchase edges once (moments + LPA share the memo)") {
    Graph.clearMemos()
    val before = Graph.repeatExecutions.get()
    val m = Graph.modularity(spark, sf0001).collect()
    assert(m.nonEmpty)
    assert(Graph.repeatExecutions.get() == before + 1,
      "q_modularity must feed its moment assembly AND the LPA loop from one basket self-join")
    val c = Graph.communities(spark, sf0001).collect()
    assert(c.nonEmpty)
    assert(Graph.repeatExecutions.get() == before + 1,
      "q_communities in the same session must reuse the memoized repeat-edge build")
    Graph.clearMemos()
  }

  test("triangles and clustering share one wedge enumeration per session+dir") {
    Graph.clearMemos() // clears the triangle memo too
    val before = Graph.triExecutions.get()
    val t = Graph.triangles(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c = Graph.clusteringCoeff(spark, sf0001).collect()
    assert(t.nonEmpty && c.nonEmpty)
    assert(Graph.triExecutions.get() == before + 1,
      "the declared pair must execute the O(m^1.5) wedge join exactly once")
    // and the shared counts are the ones the coefficient consumed
    c.filter(_.getLong(2) > 0).foreach { r =>
      assert(t(r.getLong(0)) == r.getLong(2),
        s"node ${r.getLong(0)}: clustering n_tri ${r.getLong(2)} != triangles ${t(r.getLong(0))}")
    }
    Graph.clearMemos()
  }

  test("bfs, sssp and centrality share one edge build and one BFS per session+dir") {
    Graph.clearMemos()
    val edgesBefore = Graph.edgeExecutions.get()
    val bfsBefore = Graph.bfsExecutions.get()
    val b = Graph.bfsQuery(spark, sf0001).collect()
    val sp = Graph.ssspQuery(spark, sf0001).collect()
    val c = Graph.centrality(spark, sf0001).collect()
    assert(b.nonEmpty && sp.nonEmpty && c.nonEmpty)
    assert(Graph.edgeExecutions.get() == edgesBefore + 1,
      "the bfs/sssp/centrality trio must build the co-occurrence edge relation exactly once")
    assert(Graph.bfsExecutions.get() == bfsBefore + 1,
      "q_centrality must consume q_bfs's level-synchronous relation, not re-run the loop")
    // centrality's n_reached must be exactly the shared BFS's reached set
    val nReached = c.head.getLong(0)
    assert(nReached == b.count(_.getInt(1) > 0).toLong,
      s"centrality n_reached $nReached != BFS reached ${b.count(_.getInt(1) > 0)}")
    Graph.clearMemos()
  }

  test("sssp: cheap 3-hop path beats the expensive direct edge; 1-round bound keeps the direct edge") {
    // 0 —5— 1, and 0 —1— 2 —1— 3 —1— 1: min cost to 1 is 3 via the
    // long way, but within ≤1 edge it is the direct 5
    val wedges = Seq((0L, 1L, 5L), (0L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("u", "v", "w")
    val full = Graph.sssp(wedges, 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 2L), full.toString)
    val oneHop = Graph.sssp(wedges, 0L, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneHop == Map(0L -> 0L, 1L -> 5L, 2L -> 1L),
      "≤1-edge semantics: node 3 unreached, node 1 at direct cost: " + oneHop)
  }

  test("sssp on the real graph is bounded by hop count: bfs_dist <= sssp_dist <= 5 * bfs_dist") {
    // every edge costs 1..5, so the cheapest path has >= bfs_dist
    // edges (each >= 1) and the bfs shortest-hop path costs <= 5/edge
    val sp = Graph.sssp(Graph.weightedCoEdges(spark, sf0001), Graph.BfsSource)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hops = Graph.bfs(Graph.coEdges(spark, sf0001), Graph.BfsSource)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(sp.keySet == hops.keySet, "same reachable set")
    assert(sp.forall { case (n, d) => d >= hops(n) && d <= 5L * hops(n) },
      sp.collectFirst { case (n, d) if d < hops(n) || d > 5L * hops(n) =>
        s"$n: sssp=$d hops=${hops(n)}" }.toString)
  }

  test("graph walks: hash picks replay exactly on a hand-built graph, every hop is an edge") {
    import spark.implicits._
    val edgeList = Seq((7L, 10L), (7L, 20L), (10L, 20L), (20L, 30L), (30L, 40L))
    val got = Graph.graphWalksCore(edgeList.toDF("u", "v")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(got.keySet == Set((7L, 0), (7L, 1)), got.keySet.toString)
    // replay the picks driver-side through the SAME hash expression
    val adj = Map(7L -> Seq(10L, 20L), 10L -> Seq(7L, 20L),
      20L -> Seq(7L, 10L, 30L), 30L -> Seq(20L, 40L), 40L -> Seq(30L))
    def h(sx: String): Long = graft.functions.PortableStringHash(
        org.apache.spark.sql.catalyst.expressions.Literal(sx), 1000003L)
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(sx))
    for (w <- 0 until Graph.WalksPerNode) {
      var cur = 7L
      val sb = new StringBuilder("7")
      for (k <- 1 to Graph.WalkSteps) {
        val ns = adj(cur)
        cur = ns((h(s"walk#7#$w#$k") % ns.size).toInt)
        sb.append(" ").append(cur)
      }
      assert(got((7L, w)) == ((sb.toString, cur)),
        s"walk $w diverged from the replay: ${got((7L, w))} vs $sb")
    }
    // structural: every consecutive pair in every path is a real edge
    val es = edgeList.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    got.values.foreach { case (p, end) =>
      val nodes = p.split(" ").map(_.toLong)
      assert(nodes.length == Graph.WalkSteps + 1 && nodes.last == end)
      nodes.sliding(2).foreach { case Array(a, b) =>
        assert(es((a, b)), s"$a->$b is not an edge in walk '$p'")
      }
    }
  }
}
