package graft

/** Cache-ownership contract (round-4): after ANY declared query is
  * built and executed, the session CacheManager is empty — no query
  * may leak a persisted intermediate it has no way to release (the
  * returned DataFrame is lazy, so a persist inside a query body has
  * no owner; r3's tfidf/ngram/minhash/SRP persists accumulated in
  * long-lived sessions and Verify/Bench had to clearCache() between
  * queries to cope).
  *
  * The harness clearCache() calls are now defensive only — this spec
  * is what proves they're unnecessary, and it catches the next
  * accidental `.persist()` automatically. Loop invariants are
  * laid-out checkpoint leaves (`Iterate.laidOut`), which the
  * CacheManager never holds; the only persisted relations left are the
  * raw edge relations of `PageRank.run` and the teleport PageRank loop,
  * each unpersisted before the loop returns — the discipline this spec
  * verifies from the outside.
  */
class CacheHygieneSpec extends SparkSpec {

  test("every declared query leaves the CacheManager empty after executing") {
    spark.catalog.clearCache() // isolate from anything a prior suite left behind
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf0001)
      df.write.format("noop").mode("overwrite").save()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left persisted relations in the CacheManager after its action completed")
    }
  }
}
