package graft

import graft.ops.{Components, Graph, Text}

/** Connected components + the transitive-closure MinHash clustering
  * built on it. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("min-label propagation finds components of a chain + island") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val got = Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("pointer jumping converges a 60-hop chain in ~log rounds") {
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Components.connectedComponents(edges, maxIterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 60 && got.values.forall(_ == 1L), s"chain must collapse: $got")
  }

  test("non-convergence fails loudly instead of returning split components") {
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Components.connectedComponents(edges, maxIterations = 2)
    }
    // the other fixed-point loops refuse the same way: a 2-core peels a
    // chain one node per end per round, BFS reaches one hop per round
    val chain = edges.select($"src".as("u"), $"dst".as("v"))
    intercept[IllegalStateException] {
      Graph.kCore(chain, k = 2, maxRounds = 2)
    }
    intercept[IllegalStateException] {
      Graph.bfs(chain, src = 1L, maxRounds = 2)
    }
  }

  test("convergence within diameter; isolated self-edges stable") {
    val edges = Seq((5L, 5L)).toDF("src", "dst")
    val got = Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L))
  }

  test("closure clustering merges LSH chains one-pass clustering can't") {
    val w = (1 to 24).map(i => s"w$i")
    def doc(lo: Int, hi: Int) = w.slice(lo - 1, hi).mkString(" ")
    val docs = Seq(
      (1L, doc(1, 12)),
      (2L, doc(4, 15)),   // strongly overlaps 1
      (3L, doc(8, 19)),   // strongly overlaps 2, weakly 1
      (9L, "entirely different content about spark plans and shuffles here"),
    ).toDF("doc_id", "text")
    val closure = Text.minhashClustersClosure(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(closure(1L) == 1L && closure(2L) == 1L && closure(3L) == 1L,
      s"chain must collapse to one cluster: $closure")
    assert(closure(9L) == 9L)
  }
}
