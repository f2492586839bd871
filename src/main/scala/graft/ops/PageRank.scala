package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative PageRank, quirk-faithful to the reference
  * (`assignment1/part3/task1/task1.py`) — see SURVEY.md §2.14:
  *
  *  - ranks init to 1.0 per *source* node (`task1.py:37`), not 1/N;
  *  - contribution = rank/deg to each neighbor, with duplicate edges
  *    counted at their multiplicity (`groupByKey` keeps duplicates);
  *  - new rank = 0.15 + 0.85·Σ contributions (`task1.py:52`);
  *  - after each iteration the rank vector is keyed by contribution
  *    *receivers* only: a node with out-edges but no in-edges
  *    contributes once and then drops out (inner `links.join(ranks)`
  *    at `task1.py:51`); pure-destination nodes accumulate rank but
  *    never contribute; dangling mass is lost, not redistributed;
  *  - 10 fixed iterations, no convergence test.
  *
  * Spark-first rendering: the adjacency list is never materialized as
  * arrays — edges stay flat and degrees are a count, so the widest row
  * is O(1) regardless of a node's fan-out (the 100 TB-safe shape; the
  * reference's `groupByKey` would OOM on a celebrity node). The loop
  * invariant (edges with their degrees) is one laid-out leaf
  * ([[Iterate.laidOut]]): the reference's hand-set `partitionBy` and
  * `cache()` (C2, `task2/task2.py`, `task3/task3.py:37`) become a
  * plan property, so no round re-exchanges it. The rank loop is cut by
  * [[Iterate.leaf]] to truncate the 10-deep lineage (C3, the task4
  * fault-tolerance experiment).
  *
  * Beside the quirk loop [[run]], one teleport loop ([[teleportLoop]])
  * runs the standard formulation for a personalization vector: uniform
  * in [[runTextbook]], the seed indicator in [[runPersonalized]]. Both
  * loops, and [[Graph.hitsCore]], lay their invariants out by
  * [[Iterate]]'s one layout rule and gate their vectors' broadcast on
  * one bound, the row count of the node leaf [[nodeLeaf]].
  */
object PageRank {

  /** Parse SNAP-format edge lines: tab-separated `src\tdst`,
    * `#`-comments skipped (`task1.py:28-30`). Node IDs stay strings,
    * exactly like the reference (never cast to int). */
  def parseEdgeLines(raw: DataFrame): DataFrame =
    raw.filter(!col("value").startsWith("#"))
      .select(
        split(col("value"), "\t").getItem(0).as("src"),
        split(col("value"), "\t").getItem(1).as("dst"))

  /** Every node once (sources ∪ sinks), with whether it has out-edges,
    * laid out by `node` by its own aggregation's exchange. One pass
    * over the edges emits both endpoints, so a persisted edge relation
    * is scanned once. Its row count |V| bounds every rank and score
    * vector of the loops and of [[Graph.hitsCore]], so it is the one
    * bound their size gate reads. */
  private[graft] def nodeLeaf(e: DataFrame): DataFrame =
    Iterate.laidOut(
      e.select(explode(array(struct(col("src").as("node"), lit(true).as("out")),
          struct(col("dst").as("node"), lit(false).as("out")))).as("n")).select("n.*")
        .groupBy("node").agg(max(col("out")).as("out")), "node")

  /** Both loops' invariant: each edge with its source's out-degree,
    * laid out by [[Iterate]]'s rule — by the round's aggregation key dst
    * under the gate, by its join key src (the join's own exchange) past it. */
  private def withDegrees(e: DataFrame, doBroadcast: Boolean, numPartitions: Int): DataFrame =
    Iterate.laidOut(e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .select(col("src"), col("dst"), col("deg")), if (doBroadcast) "dst" else "src", numPartitions)

  /** Both loops' prologue: the edges, hash-laid-out by src in
    * `numPartitions` partitions when > 0, persisted while the node set
    * `nodesOf(e)`, the rank gate its row count decides and the degree
    * leaf are built. `loop` returns a leaf, so the edges go after it. */
  private def withInvariants(edges: DataFrame, numPartitions: Int, nodesOf: DataFrame => DataFrame)(
      loop: (DataFrame, DataFrame => DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = (if (numPartitions > 0) Iterate.layout(edges, "src", numPartitions) else edges).persist()
    try {
      val nodes = nodesOf(e)
      val doBroadcast = Iterate.fits(nodes)
      loop(nodes, Iterate.broadcastIf(doBroadcast), withDegrees(e, doBroadcast, numPartitions))
    } finally e.unpersist()
  }

  /** The iterative core. `edges(src, dst)` of any key type.
    *
    * `numPartitions > 0` reproduces the reference's partition-sweep
    * experiment (C1, `task2/task2.py:36` — `groupByKey().repartition(n)`
    * swept over {10,50,100,200,300}): the edge relation is
    * hash-repartitioned on `src` and the loop invariant is laid out in
    * `n` partitions, or the sweep would exercise identical layouts.
    * Results are partition-count invariant (PageRankSpec pins this) —
    * only shuffle layout changes.
    *
    * Lineage is truncated every 3rd iteration (and after the last)
    * rather than every one: each eager `localCheckpoint` is a full
    * materialization job, and a 3-deep join/agg lineage replans
    * cheaply — same recompute-bound idea as C3, a third of the
    * checkpoint cost. */
  def run(edges: DataFrame, iterations: Int = 10, numPartitions: Int = 0): DataFrame =
    quirkLoop(edges, iterations, numPartitions, nodeLeaf)

  /** [[run]], its gate read from the node set `nodesOf(edges)`. */
  private def quirkLoop(edges: DataFrame, iterations: Int, numPartitions: Int,
      nodesOf: DataFrame => DataFrame): DataFrame =
    withInvariants(edges, numPartitions, nodesOf) { (_, gate, withDeg) =>
      val init = withDeg.select(col("src").as("node")).distinct()
        .select(col("node"), lit(1.0).as("pr"))
      Iterate.rounds(init, iterations, cutEvery = 3) { ranks =>
        withDeg
          .join(gate(ranks), col("src") === col("node"))
          .select(col("dst"), (col("pr") / col("deg")).as("contrib"))
          .groupBy(col("dst"))
          .agg((lit(0.15) + lit(0.85) * sum(col("contrib"))).as("pr"))
          .select(col("dst").as("node"), col("pr"))
      }
    }

  /** A teleport loop's personalization vector, given the node count
    * N, as column builders over `node`: each node's initial rank, its
    * teleport term (its part of the 0.15 restart mass) and its share
    * of a dangling mass. Each variant writes them as it computes them,
    * so the floating point stays the variant's own. */
  private final case class Teleport(init: Column, jump: Column, share: Column => Column)

  /** The teleport PageRank loop behind [[runTextbook]] and
    * [[runPersonalized]] (the standard formulation): every node of the
    * FULL node set (sources ∪ sinks) is keyed every iteration, and the
    * mass of dangling (no-out-edge) nodes restarts by the vector:
    * pr' = jump + 0.85·(Σ contribs + share(danglingMass)), so total
    * mass is conserved at 1.0 per iteration. Same scale shape as
    * [[run]]: flat edges, O(1) rows, invariants laid-out leaves; the
    * dangling mass flows back as a 1-row broadcast, never a collect.
    *
    * Unlike [[run]] (one consumer of ranks per iteration, so a cut
    * every 3rd), ranks here feeds TWO consumers next iteration
    * (contribs and the dangling-mass aggregate): left lazy, the
    * shared subplan re-executes per consumer and the plan fans out
    * ~2^k between cuts (measured 18 s vs ~7 s at sf0.1), so the loop
    * cuts every iteration. */
  private def teleportLoop(edges: DataFrame, iterations: Int)(
      vec: Double => Teleport): DataFrame =
    withInvariants(edges, 0, nodeLeaf) { (nodes, gate, withDeg) =>
      // the node leaf's row count is N: it serves the vector too
      val v = vec(Iterate.rows(nodes).toDouble)
      // the ranks carry the out-edge flag, so the dangling mass (sinks'
      // rank, which the quirk variant deliberately loses) is a filter of
      // the state, with no join
      val init = nodes.select(col("node"), v.init.as("pr"), col("out"))
      Iterate.rounds(init, iterations) { ranks =>
        val contribs = withDeg
          .join(gate(ranks), col("src") === col("node"))
          .groupBy(col("dst")).agg(sum(col("pr") / col("deg")).as("c"))
        val dm = ranks.filter(!col("out"))
          .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
        nodes
          .join(gate(contribs), col("node") === col("dst"), "left")
          .crossJoin(broadcast(dm))
          .select(col("node"),
            (v.jump + lit(0.85) * (coalesce(col("c"), lit(0.0)) + v.share(col("dm")))).as("pr"),
            col("out"))
      }.select(col("node"), col("pr"))
    }

  /** Textbook PageRank — the variant SURVEY §2.14 documents alongside
    * the quirk-faithful [[run]] (the original Brin/Page formulation):
    * [[teleportLoop]] with the uniform vector 1/N — ranks init to 1/N,
    * the teleport term is 0.15/N and dangling mass spreads as dm/N. */
  def runTextbook(edges: DataFrame, iterations: Int = 10): DataFrame =
    teleportLoop(edges, iterations)(n => Teleport(lit(1.0 / n), lit(0.15 / n), _ / lit(n)))

  /** Personalized PageRank (r5 wave 14; Haveliwala WWW 2002, the
    * Page et al. personalization vector): [[teleportLoop]] with the
    * vector concentrated on ONE seed node — ranks init to the seed
    * indicator, restart probability 0.15 returns to the seed, and
    * dangling mass restarts there too, so the stationary distribution
    * ranks the graph BY PROXIMITY TO THE SEED (on the directed
    * customer→supplier star this is the seed customer's
    * supplier-affinity profile). The indicator is a pure column
    * expression — no extra join, no collect. */
  def runPersonalized(edges: DataFrame, seed: Long, iterations: Int = 10): DataFrame = {
    val ind = when(col("node") === seed, lit(1.0)).otherwise(lit(0.0))
    teleportLoop(edges, iterations)(_ => Teleport(ind, lit(0.15) * ind, _ * ind))
  }

  /** Deterministic edge table derived from the star schema: each
    * (order, lineitem) pair yields customer→supplier and
    * supplier→customer edges (supplier keys offset into a disjoint ID
    * space). Multiplicities are real — a customer ordering 5 items
    * from a supplier contributes 5 parallel edges, which is exactly
    * the duplicate-edge quirk the reference preserves. */
  def starEdges(s: SparkSession, d: String): DataFrame = {
    val ol = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), (col("l_suppkey") + 10000000L).as("supp"))
    ol.select(col("cust").as("src"), col("supp").as("dst"))
      .unionByName(ol.select(col("supp").as("src"), col("cust").as("dst")))
  }

  /** One-directional star edges (customer→supplier only): suppliers
    * become pure sinks with NO out-edges — the graph shape that
    * actually exercises the textbook variant's dangling-mass
    * redistribution (the symmetric [[starEdges]] graph has none). */
  def starEdgesDirected(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 10000000L).as("dst"))

  def pagerank(s: SparkSession, d: String): DataFrame =
    run(starEdges(s, d), 10)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))

  /** Graph profile (the first thing run before any iterative graph
    * job): out-degree histogram of the symmetric star graph — how many
    * nodes have each degree, with parallel edges counted (the real
    * shuffle volume per PageRank iteration is Σ degree). One groupBy
    * chain, two shuffles; at any scale this is the skew-detection
    * input that decides broadcast vs salting for the iteration loop. */
  def degreeHist(s: SparkSession, d: String): DataFrame =
    starEdges(s, d)
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  def pagerankTextbook(s: SparkSession, d: String): DataFrame =
    runTextbook(starEdgesDirected(s, d), 10)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))

  /** The reference's own input format end-to-end (`task1.py:26-54`):
    * SNAP text lines `src\tdst` plus a `#` comment header, parsed by
    * [[parseEdgeLines]] — node IDs stay STRINGS in the declared
    * output exactly like the reference. The lines are rendered from
    * the star schema so the DuckDB oracle can rebuild the identical
    * graph.
    *
    * Internally (r12 second pass, guide §2.3 narrower types) the loop
    * runs on dictionary-encoded LONG surrogates: every iteration
    * joins and aggregates by node key, and hashing variable-length
    * strings 10 times over the edge relation costs measurably more
    * than 8-byte longs — and at web scale, past the broadcast gate,
    * the per-iteration shuffles would carry the strings themselves.
    * Surrogates are dense ids frozen by a checkpoint (never a raw
    * hash of the name, whose silent collision would merge two nodes);
    * one encode pass before the loop, one decode join after, both
    * size-gated broadcasts sharing the loop's own node-count gate.
    * PageRankSpec pins text-vs-star parity; the oracle stays the
    * string-keyed unroll. */
  def pagerankSnap(s: SparkSession, d: String): DataFrame = {
    val lines = starEdges(s, d)
      .select(concat_ws("\t", col("src"), col("dst")).as("value"))
    val header = s.range(1).select(lit("# FromNodeId\tToNodeId").as("value"))
    // two consumers below (dict build + encode): materialize the
    // parse once
    val parsed = Iterate.leaf(parseEdgeLines(header.unionByName(lines)))
    val dict = Iterate.leaf(
      parsed.select(col("src").as("name"))
        .unionByName(parsed.select(col("dst").as("name")))
        .distinct()
        .select(col("name"), monotonically_increasing_id().as("nid")))
    // the dict leaf's rows are the loop's node set: they gate the
    // encode joins, the decode join and the loop
    val gate = Iterate.broadcastIf(Iterate.fits(dict))
    val enc = parsed
      .join(gate(dict.select(col("name").as("src"), col("nid").as("nsrc"))), Seq("src"))
      .join(gate(dict.select(col("name").as("dst"), col("nid").as("ndst"))), Seq("dst"))
      .select(col("nsrc").as("src"), col("ndst").as("dst"))
    quirkLoop(enc, 10, 0, _ => dict)
      .join(gate(dict), col("node") === col("nid"))
      .select(col("name").as("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))
  }

  /** Seed = customer node 1 (present at every SF). */
  val PersonalizedSeed = 1L

  def pagerankPersonalized(s: SparkSession, d: String): DataFrame =
    runPersonalized(starEdgesDirected(s, d), PersonalizedSeed, 10)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> pagerank,
    "q_pagerank_textbook" -> pagerankTextbook,
    "q_pagerank_personalized" -> pagerankPersonalized,
    "q_pagerank_snap" -> pagerankSnap,
    "q_degree_hist" -> degreeHist,
  )

  private val symEdgesSql =
    """SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       UNION ALL
       SELECT l_suppkey + 10000000 AS src, o_custkey AS dst
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""

  /** DuckDB oracle: the 10-iteration quirk loop unrolled into a CTE
    * chain — same init, same inner-join dropout, same damping.
    * `edgesSql` parameterizes the key type (BIGINT star keys vs the
    * VARCHAR keys of the SNAP-text rendering). */
  private def quirkOracle(edgesSql: String): String = {
    val base =
      s"""WITH edges AS MATERIALIZED ($edgesSql),
         degrees AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         r0 AS (SELECT src AS node, 1.0 AS pr FROM degrees)"""
    val iters = (1 to 10).map { i =>
      s""", r$i AS (
           SELECT e.dst AS node, 0.15 + 0.85 * sum(r.pr / d.deg) AS pr
           FROM edges e JOIN degrees d ON e.src = d.src
           JOIN r${i - 1} r ON e.src = r.node
           GROUP BY e.dst)"""
    }.mkString
    base + iters + " SELECT node, round(pr, 6) AS pr FROM r10 ORDER BY node"
  }

  /** Teleport oracle ([[teleportLoop]] unrolled): every node keyed
    * every iteration via the LEFT JOIN, per-iteration dangling mass
    * (`dm_i`) restarted by the vector. `jump` is the teleport term and
    * `share(m)` a node's share of mass `m`, both over `nd.node` and
    * `nn.n`; the init is `share(1.0e0)` (1/N, or the indicator, which
    * 1.0·x keeps exact). Double literals written `…e0` — a bare `0.15`
    * is DECIMAL in DuckDB and would poison the IEEE parity with
    * Spark's doubles. Base CTEs are MATERIALIZED: DuckDB otherwise
    * inlines them into every one of the 10 unrolled iterations,
    * re-opening the parquet per reference until the file-handle limit
    * blows. */
  private def teleportOracle(jump: String, share: String => String): String = {
    val base =
      s"""WITH edges AS MATERIALIZED (
           SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         degrees AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         nodes AS MATERIALIZED (SELECT DISTINCT node FROM
           (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
         nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         r0 AS (SELECT nd.node, ${share("1.0e0")} AS pr FROM nodes nd CROSS JOIN nn)"""
    // every per-iteration CTE is MATERIALIZED: r_{i-1} is referenced
    // TWICE per level (contribution + dangling mass), so DuckDB's
    // default inlining expands the chain ~2^10-fold — at sf1 the
    // un-materialized form deterministically exhausted 67 GB of spill
    // (r8 full-surface gate finding); materialization makes the
    // unroll linear, values unchanged
    val iters = (1 to 10).map { i =>
      s""", c$i AS MATERIALIZED (
           SELECT e.dst AS node, sum(r.pr / d.deg) AS c
           FROM edges e JOIN degrees d ON e.src = d.src
           JOIN r${i - 1} r ON e.src = r.node
           GROUP BY e.dst),
         dm$i AS MATERIALIZED (
           SELECT coalesce(sum(r.pr), 0.0e0) AS dm
           FROM r${i - 1} r LEFT JOIN degrees d ON r.node = d.src
           WHERE d.src IS NULL),
         r$i AS MATERIALIZED (
           SELECT nd.node, $jump + 0.85e0 * (coalesce(c.c, 0.0e0) + ${share("dm.dm")}) AS pr
           FROM nodes nd LEFT JOIN c$i c ON nd.node = c.node
           CROSS JOIN dm$i dm CROSS JOIN nn)"""
    }.mkString
    base + iters + " SELECT node, round(pr, 6) AS pr FROM r10 ORDER BY node"
  }

  private val seedIndSql =
    s"(CASE WHEN nd.node = $PersonalizedSeed THEN 1.0e0 ELSE 0.0e0 END)"

  val oracles: Map[String, String] = Map(
    "q_pagerank_personalized" -> teleportOracle(s"0.15e0 * $seedIndSql", m => s"$m * $seedIndSql"),
    "q_degree_hist" -> s"""WITH edges AS ($symEdgesSql),
         deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
         SELECT degree, count(*) AS n_nodes FROM deg
         GROUP BY degree ORDER BY degree""",
    "q_pagerank" -> quirkOracle(symEdgesSql),
    "q_pagerank_textbook" -> teleportOracle("0.15e0 / nn.n", m => s"$m / nn.n"),
    // identical graph, VARCHAR node ids (the SNAP parse keeps strings)
    "q_pagerank_snap" -> quirkOracle(
      """SELECT CAST(o_custkey AS VARCHAR) AS src,
                CAST(l_suppkey + 10000000 AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         UNION ALL
         SELECT CAST(l_suppkey + 10000000 AS VARCHAR) AS src,
                CAST(o_custkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""),
  )
}
