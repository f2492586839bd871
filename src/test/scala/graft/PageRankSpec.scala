package graft

import graft.ops.{Graph, PageRank}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Golden tests for the quirk-faithful PageRank (SURVEY.md §2.14).
  *
  * Expected values computed offline with a direct simulation of
  * `assignment1/part3/task1/task1.py` (init 1.0, contrib = rank/deg
  * with duplicate-edge multiplicity, rank = 0.15 + 0.85·Σ, inner-join
  * dropout) on the toy graph fixture — see FIXTURES.md §A2.
  */
class PageRankSpec extends SparkSpec {

  private def toyEdges = PageRank.parseEdgeLines(
    spark.read.text(getClass.getResource("/toy_graph.tsv").getPath))

  private def toyRanks(iters: Int): Map[String, Double] =
    PageRank.run(toyEdges, iters).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def assertRanks(got: Map[String, Double], want: Map[String, Double]): Unit = {
    assert(got.keySet == want.keySet, s"key sets differ: $got vs $want")
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-9, s"node $k: got ${got(k)}, want $v")
    }
  }

  test("iteration 1: node 4 contributes then vanishes; 5 receives only") {
    assertRanks(toyRanks(1),
      Map("1" -> 1.0, "2" -> 0.7166666667, "3" -> 1.7083333333, "5" -> 0.575))
  }

  test("iteration 2: dangling mass lost, duplicate edge weighted") {
    assertRanks(toyRanks(2),
      Map("1" -> 1.6020833333, "2" -> 0.7166666667, "3" -> 0.7379166667,
        "5" -> 0.4545833333))
  }

  test("iteration 10: reference fixed-point trajectory") {
    assertRanks(toyRanks(10),
      Map("1" -> 0.6429615934, "2" -> 0.5195165694, "3" -> 0.5614874152,
        "5" -> 0.3767291305))
  }

  test("comment lines are skipped and node IDs stay strings") {
    val edges = toyEdges
    assert(edges.count() == 7) // duplicate 1->2 preserved
    assert(edges.schema("src").dataType.typeName == "string")
  }

  test("ranks are invariant under the partition sweep (task2 analog)") {
    val edges = toyEdges
    val base = PageRank.run(edges, 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq(2, 8).foreach { n =>
      val swept = PageRank.run(edges, 10, numPartitions = n).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(swept.keySet == base.keySet)
      base.foreach { case (k, v) =>
        assert(math.abs(swept(k) - v) < 1e-12, s"n=$n node=$k")
      }
    }
  }

  private def toyTextbook(iters: Int): Map[String, Double] =
    PageRank.runTextbook(toyEdges, iters).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  // Expected values from a direct simulation of the standard
  // formulation: 1/N init over all nodes, dangling mass (node 5, no
  // out-edges) redistributed uniformly, every node keyed every
  // iteration. Total mass stays exactly 1.0.
  test("textbook variant: 1/N init, node 4 never drops out") {
    assertRanks(toyTextbook(1),
      Map("1" -> 0.234, "2" -> 0.1773333333, "3" -> 0.3756666667,
        "4" -> 0.064, "5" -> 0.149))
  }

  test("textbook variant: dangling mass redistributed, mass conserved") {
    val r2 = toyTextbook(2)
    assertRanks(r2,
      Map("1" -> 0.3746466667, "2" -> 0.18793, "3" -> 0.2513966667,
        "4" -> 0.05533, "5" -> 0.1306966667))
    assert(math.abs(r2.values.sum - 1.0) < 1e-12)
    assertRanks(toyTextbook(10),
      Map("1" -> 0.2940935898, "2" -> 0.2215584153, "3" -> 0.2793349683,
        "4" -> 0.0555802624, "5" -> 0.1494327642))
  }

  test("broadcast gate: small graphs broadcast, forced paths agree") {
    val (bc, sh) = bothRegimes("pagerank")(PageRank.run(toyEdges, 5))
    def ranks(rows: Set[Row]) =
      rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (b, s) = (ranks(bc), ranks(sh))
    assert(b.nonEmpty && b.keySet == s.keySet)
    b.foreach { case (k, v) => assert(math.abs(s(k) - v) < 1e-12, s"node=$k") }
  }

  test("the rank gates run no count job: run and hitsCore read the node leaf's rows") {
    for ((what, q) <- Seq[(String, () => DataFrame)](
        "run" -> (() => PageRank.run(toyEdges, 5)),
        "hitsCore" -> (() => Graph.hitsCore(toyEdges, 3)))) {
      val actions = listened(q().collect())._2.map(_._1)
      assert(actions.contains("localCheckpoint") && !actions.contains("count"),
        s"$what ran: ${actions.mkString(", ")}")
    }
  }

  test("textbook and personalized: the shuffled regime gives the same ranks") {
    def both(f: () => Map[Long, Double]): (Map[Long, Double], Map[Long, Double]) = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val saved = spark.conf.get(key)
      val bc = f()
      try { spark.conf.set(key, "-1"); (bc, f()) } finally spark.conf.set(key, saved)
    }
    val e = PageRank.starEdgesDirected(spark, sf0001)
    def ranks(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((bc, sh) <- Seq(both(() => ranks(PageRank.runTextbook(e, 5))),
        both(() => ranks(PageRank.runPersonalized(e, seed = 1L, 5))))) {
      assert(bc.nonEmpty && bc.keySet == sh.keySet)
      bc.foreach { case (k, v) => assert(math.abs(sh(k) - v) < 1e-12, s"node=$k") }
    }
  }

  test("SNAP-text end-to-end matches the star-schema pagerank") {
    val viaText = PageRank.pagerankSnap(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = PageRank.pagerank(spark, sf0001).collect()
      .map(r => r.getLong(0).toString -> r.getDouble(1)).toMap
    // ULP-tolerant: the string- and long-keyed loops aggregate contribs
    // in different partition orders, so a pre-round sum can sit on a
    // round(.,6) boundary — exact == would be a flaky pin
    assert(viaText.keySet == direct.keySet)
    viaText.foreach { case (k, v) =>
      assert(math.abs(direct(k) - v) < 1e-6 + 1e-12, s"node=$k: $v vs ${direct(k)}")
    }
  }

  test("SNAP text: past the gates the shuffled plan gives the same ranks") {
    val (bc, sh) = bothRegimes("pagerank_snap")(PageRank.pagerankSnap(spark, sf0001))
    def ranks(rows: Set[Row]) =
      rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (b, s) = (ranks(bc), ranks(sh))
    // ULP-tolerant like the star-schema parity above: the two regimes
    // sum contributions in different partition orders before round(.,6)
    assert(b.nonEmpty && b.keySet == s.keySet)
    b.foreach { case (k, v) => assert(math.abs(s(k) - v) < 1e-6 + 1e-12, s"node=$k") }
  }

  test("harness edge table is deterministic and bidirectional") {
    val e = PageRank.starEdges(spark, sf0001)
    val n = e.count()
    assert(n > 0 && n % 2 == 0)
    assert(e.filter(col("src") >= 10000000L && col("dst") >= 10000000L).count() == 0)
  }

  test("personalized: mass conserved at 1, unreachable nodes stay exactly 0, seed dominates") {
    import spark.implicits._
    // 1→10, 1→11, 2→12; seed 1. Only {1, 10, 11} are reachable from
    // the seed; 2 and 12 must hold EXACTLY zero mass after any number
    // of rounds. Teleport + dangling restart both return to the seed,
    // so total mass stays 1 each iteration.
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 12L)).toDF("src", "dst")
    val pr = PageRank.runPersonalized(edges, seed = 1L, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(1L, 2L, 10L, 11L, 12L))
    assert(pr(2L) == 0.0 && pr(12L) == 0.0, s"unreachable mass leaked: $pr")
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass not conserved: ${pr.values.sum}")
    assert(pr(1L) > pr(10L) && pr(10L) == pr(11L), s"seed must dominate, twins tie: $pr")
  }
}
