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
}
