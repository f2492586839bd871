package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("query selector: unset or all is the registry, a list is exactly its names, unknown names throw") {
    val registry = SparkEntry.queries.keySet
    assert(Harness.select(None).keySet == registry)
    assert(Harness.select(Some("all")).keySet == registry)
    assert(Harness.select(Some("q_pagerank, q_sort_export")).keySet == Set("q_pagerank", "q_sort_export"))
    val e = intercept[IllegalArgumentException](Harness.select(Some("q_pagerank,q_pagernak")))
    assert(e.getMessage.contains("q_pagernak"))
  }

  test("slope budgets: one reader returns every scale_budgets.tsv row with both decade budgets") {
    val in = getClass.getResourceAsStream("/scale_budgets.tsv")
    val rows = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().drop(1)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")(0)).toSet
    finally in.close()
    assert(Harness.slopeBudgets.keySet == rows)
    assert(Harness.slopeBudgets("q_ann_pq") == ((8.0, 60.0)))
    assert(Harness.slopeBudgets("q_triangles") == ((21.0, 32.0)))
    // Bench reads decade 0, ScaleDecades every decade
    assert(Harness.slopeBudget("q_ann_pq", 0) == 8.0 && Harness.slopeBudget("q_ann_pq", 1) == 60.0)
    assert(Harness.slopeBudget("q_dedup_ngram", 1) == 45.0)
    assert(Harness.slopeBudget("q_pagerank", 0) == Harness.SlopeMax &&
      Harness.slopeBudget("q_pagerank", 1) == 12.0)
  }
}
