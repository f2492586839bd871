package graft

import graft.ops.Text
import org.apache.spark.sql.functions.col

/** Near-dup agreement with GROUND TRUTH (r3 verdict task #6): the
  * DuckDB oracle proves the MinHash and SimHash queries compute what
  * their SQL says, not that what they say finds duplicates. This spec
  * bounds them against exact shingle-set Jaccard computed
  * independently in plain Scala on the harness corpus itself (the
  * tokenization is `split(" ")` + 3-word sliding windows, mirrored
  * verbatim from docShingles).
  *
  * What agreement can honestly mean here: the corpus is bimodal
  * (planted pairs at jac ≈ 0.99, background below 0.2 from a tiny
  * vocabulary), and at s* ≈ 0.35 the LSH verdict on a background pair
  * is a legitimate coin flip of the hash family — so the path MUST
  * catch every planted pair (miss probability (1-0.99²)⁸ ≈ 10⁻¹⁴ each)
  * and must never hallucinate a cluster edge with zero shared
  * evidence, but may go either way on borderline pairs. The
  * assertions encode exactly that. */
class DedupAgreementSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001)

  /** Verbatim mirror of docShingles' tokenization. */
  private def shingleSet(t: String): Set[String] = {
    val ws = t.split(" ")
    if (ws.length < 3) Set.empty
    else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  private lazy val shingles: Map[Long, Set[String]] =
    docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> shingleSet(t) }.toMap

  private def jac(a: Long, b: Long): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    if (sa.isEmpty && sb.isEmpty) 0.0
    else (sa & sb).size.toDouble / (sa | sb).size
  }

  /** The planted near-duplicate pairs: jac ≥ 0.9 (observed ≈ 0.99;
    * the next similarity tier on this corpus is < 0.2). */
  private lazy val planted: Seq[(Long, Long)] = {
    val ids = shingles.keys.toSeq.sorted
    for { i <- ids; j <- ids if i < j && jac(i, j) >= 0.9 } yield (i, j)
  }

  private def clustersOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("cluster_rep")).as[(Long, Long)].collect().toMap

  test("one-pass MinHash catches every planted pair; every edge shares a shingle") {
    assert(planted.size >= 20, s"expected the corpus's planted pairs, got ${planted.size}")
    val got = clustersOf(Text.minhashClusters(docs))
    planted.foreach { case (a, b) =>
      assert(got(a) == got(b), s"one-pass missed planted pair ($a,$b) jac=${jac(a, b)}")
    }
    // precision: a band collision of two 31-bit slots forces a
    // genuinely shared argmin shingle (a coincidental double collision
    // is ~2⁻⁶² per pair), and one-pass reps share a bucket with every
    // member, so every (doc, rep) edge must have nonzero exact Jaccard
    got.collect { case (d, r) if d != r => (d, r) }.foreach { case (d, r) =>
      assert(jac(d, r) > 0.0, s"one-pass clustered ($d under $r) with zero shared shingles")
    }
  }

  test("closure MinHash keeps planted pairs together; components are connected") {
    val got = clustersOf(Text.minhashClustersClosure(docs))
    planted.foreach { case (a, b) =>
      assert(got(a) == got(b), s"closure split planted pair ($a,$b)")
    }
    // precision for the transitive path: co-membership may chain, so
    // the requirement is connectivity in the shares-a-shingle graph
    // WITHIN each cluster, not pairwise sharing
    got.groupBy(_._2).values.map(_.keys.toSeq.sorted).filter(_.length > 1).foreach { members =>
      val reach = scala.collection.mutable.Set(members.head)
      var grew = true
      while (grew) {
        grew = false
        for (m <- members if !reach(m) && members.exists(r => reach(r) && jac(m, r) > 0.0)) {
          reach += m; grew = true
        }
      }
      assert(reach.size == members.size,
        s"closure cluster $members is not connected in the shared-shingle graph")
    }
  }

  test("MUTATION: a doc-salted band signature fails the planted-pair agreement check") {
    // The inverse guard (r6 verdict task 8): the planted-pair bound above only
    // has teeth if a plausible LSH bug actually trips it. The classic
    // bug class is a per-doc column leaking into the bucket key (salt,
    // id, partition tag) — buckets become singletons and every planted
    // pair silently separates while the query still returns 500
    // well-formed rows. Rebuild the one-pass clustering with exactly
    // that corruption and assert the planted-pair predicate FAILS.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, min, xxhash64}
    val corrupted = Text.minhashBands(docs)
      .withColumn("band_sig", xxhash64(col("band_sig"), col("doc_id")))
    val reps = corrupted
      .withColumn("band_rep",
        min(col("doc_id")).over(Window.partitionBy("band", "band_sig")))
      .groupBy("doc_id").agg(min(col("band_rep")).as("rep"))
    val mutant = docs.select(col("doc_id"))
      .join(reps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
    val m = clustersOf(mutant)
    assert(planted.forall { case (a, b) => m(a) != m(b) },
      "doc-salted band keys still co-clustered a planted pair — the agreement check has no teeth")
  }

  test("SimHash separates planted pairs from background") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val sig = Text.dedupSimhash(spark, sf0001)
      .select(col("doc_id"), col("simhash")).as[(Long, Long)].collect().toMap
    val plantedSet = planted.toSet
    // deterministic background sample: consecutive ids that are not
    // planted pairs (the corpus's background similarity tier)
    val background = shingles.keys.toSeq.sorted.sliding(2)
      .collect { case Seq(a, b) if !plantedSet((a, b)) => (a, b) }.toSeq
    // the tails legitimately touch on this corpus — background docs
    // draw from the same ~31-word vocabulary, so a background pair can
    // land at a small hamming distance — so the contract is
    // DISTRIBUTIONAL: the planted p90 sits strictly below the
    // background median, i.e. the bulk of real near-dups is closer
    // than the typical unrelated pair
    def p(xs: Seq[Int], q: Double): Int = { val s = xs.sorted; s((s.size * q).toInt min (s.size - 1)) }
    val pl = planted.map { case (a, b) => hamming(sig(a), sig(b)) }
    val bg = background.map { case (a, b) => hamming(sig(a), sig(b)) }
    assert(p(pl, 0.9) < p(bg, 0.5),
      s"simhash: planted p90 ${p(pl, 0.9)} not below background median ${p(bg, 0.5)}")
    // and the planted pairs are absolutely close: a near-identical
    // word bag flips only the handful of bits whose votes the few
    // differing words decide
    assert(pl.max <= 10, s"64-bit simhash planted max hamming ${pl.max} > 10")
  }

  test("MUTATION: a doc-keyed fingerprint perturbation fails the SimHash distributional check") {
    // Inverse guard for the SimHash bound: the plausible bug is
    // any per-doc term entering the fingerprint (seeding the token
    // hash with doc_id, mixing in a row number) — signatures of a
    // planted pair then differ by an independent random mask and the
    // pair's hamming distance jumps to ~32, indistinguishable from
    // background. Apply exactly that perturbation to the REAL
    // signatures (deterministic: scramble64 of doc_id) and
    // assert the distributional assertion above trips.
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    def scramble(id: Long): Long = { // splitmix64 finalizer — fixed, engine-free
      var z = id + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val sig = Text.dedupSimhash(spark, sf0001)
      .select(col("doc_id"), col("simhash")).as[(Long, Long)].collect().toMap
    val mutant = sig.map { case (id, h) => id -> (h ^ scramble(id)) }
    val plantedSet = planted.toSet
    val background = shingles.keys.toSeq.sorted.sliding(2)
      .collect { case Seq(a, b) if !plantedSet((a, b)) => (a, b) }.toSeq
    def p(xs: Seq[Int], q: Double): Int = { val s = xs.sorted; s((s.size * q).toInt min (s.size - 1)) }
    val pl = planted.map { case (a, b) => hamming(mutant(a), mutant(b)) }
    val bg = background.map { case (a, b) => hamming(mutant(a), mutant(b)) }
    assert(p(pl, 0.9) >= p(bg, 0.5),
      s"doc-keyed perturbation still passed the distributional check (planted p90 ${p(pl, 0.9)}, " +
        s"background median ${p(bg, 0.5)}) — the check has no teeth")
    // and the absolute closeness bound trips too
    assert(pl.max > 10, s"mutant planted max hamming ${pl.max} still within the <=10 bound")
  }
}
