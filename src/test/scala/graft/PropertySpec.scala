package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SchkTest}

/** Property-based invariants (SURVEY.md §5.3), driven with ScalaCheck
  * directly (the scalatest-plus bridge isn't in the offline cache):
  * each property runs against small generated datasets through the
  * real operators. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int = 5): Unit = {
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val wordGen = Gen.oneOf("the", "fast", "sort", "merge", "join",
    "scan", "hash", "row", "batch", "key")
  private val docGen = for {
    n <- Gen.choose(3, 30)
    ws <- Gen.listOfN(n, wordGen)
  } yield ws.mkString(" ")

  test("global sort is a permutation: multiset of rows is preserved") {
    check(Prop.forAll(Gen.listOfN(30, Gen.choose(0L, 5L).flatMap(u =>
      Gen.choose(0L, 1000L).map(t => (u, t))))) { rows =>
      val df = rows.toDF("user_id", "ts")
      val sorted = df.orderBy(col("user_id"), col("ts")).collect()
      // full equality with rows.sorted implies permutation + total order
      sorted.map(r => (r.getLong(0), r.getLong(1))).toSeq == rows.sorted.toSeq
    })
  }

  test("exact dedup is idempotent and keeps one row per distinct text") {
    check(Prop.forAll(Gen.listOfN(12, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = docs.groupBy(sha2(col("text"), 256).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
      val twice = once.groupBy(col("fp")).agg(min(col("keep_id")).as("keep_id"))
      once.count() == texts.distinct.length && twice.count() == once.count()
    })
  }

  test("tumbling window counts sum to the plain count") {
    check(Prop.forAll(Gen.listOfN(25, for {
      h <- Gen.choose(0, 5); m <- Gen.choose(0, 59)
      et <- Gen.oneOf("click", "view")
    } yield (java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00"), et, 1.0))) { rows =>
      val events = rows.toDF("ts", "event_type", "value")
      val windowed = Streaming.tumblingCounts(events)
      windowed.agg(sum(col("n"))).collect().head.getLong(0) == rows.length
    })
  }

  test("HLL shard-merge losslessness holds for arbitrary key sets") {
    // not just the events table: for ANY key multiset, max-merged
    // per-shard registers reproduce the whole-set estimate exactly
    check(Prop.forAll(Gen.listOfN(40, Gen.choose(0L, 100000L))) { keys =>
      val r = ops.Relational.hllMergeCore(keys.toDF("key")).collect().head
      r.getBoolean(3) && r.getDouble(1) == r.getDouble(2)
    })
  }

  test("minhash: a document always clusters with its exact copy") {
    check(Prop.forAll(docGen, docGen) { (t1, t2) =>
      val docs = Seq((1L, t1), (2L, t1), (3L, t2 + " unique tail words here"))
        .toDF("doc_id", "text")
      val out = graft.ops.Text.minhashClusters(docs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out(2L) == 1L && out(1L) == 1L
    }, n = 4)
  }

  // --- partition-invariance: the distributed-correctness property.
  // A result that changes with partition count would be wrong on any
  // real cluster; these drive the same operators under adversarial
  // repartitioning (1 vs 7 partitions, 7 chosen to misalign with the
  // harness's 2).

  test("salted skew join equals the unsalted join under any partitioning") {
    check(Prop.forAll(Gen.listOfN(40, for {
      id <- Gen.choose(0L, 1000L); et <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-50.0, 50.0)
    } yield (id, et, v))) { rows =>
      val distinctRows = rows.distinctBy(_._1) // event_id is the row key
      def run(parts: Int) =
        graft.ops.Joins.skewSaltedCore(
          distinctRows.toDF("event_id", "event_type", "value")
            .repartition(parts, col("event_id")))
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      run(1) == run(7)
    }, n = 4)
  }

  test("stratified sample picks the same rows under any partitioning") {
    check(Prop.forAll(Gen.listOfN(30, Gen.choose(0L, 10000L))) { ids =>
      def run(parts: Int) =
        graft.ops.Relational.stratifiedCore(
          ids.distinct.map(i => (i, s"src${(i % 20).toInt}"))
            .toDF("doc_id", "source").repartition(parts, col("doc_id")))
          .collect().map(_.getLong(0)).toSet
      run(1) == run(7)
    }, n = 4)
  }

  test("portable simhash is partition-count invariant") {
    check(Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      def run(parts: Int) = {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text").repartition(parts, col("doc_id"))
        graft.ops.Text.simhash(docs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      run(1) == run(7)
    }, n = 3)
  }

  test("CMS estimates dominate exact counts on any corpus (one-sided error)") {
    check(Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      graft.ops.Text.cmsTopkCore(docs).collect()
        .forall(r => r.getLong(2) >= r.getLong(1) &&
          r.getLong(3) == r.getLong(2) - r.getLong(1))
    }, n = 5)
  }

  test("LPA communities partition the node set (every node, exactly one label)") {
    val edgeGen = Gen.listOfN(12, for {
      u <- Gen.choose(1L, 8L); v <- Gen.choose(1L, 8L) if u != v
    } yield (math.min(u, v), math.max(u, v)))
    check(Prop.forAll(edgeGen) { es =>
      es.distinct match {
        case Nil => true
        case edges =>
          val df = edges.toDF("u", "v")
          val labels = graft.ops.Graph.labelPropagation(df).collect()
            .map(r => r.getLong(0) -> r.getLong(1))
          val nodes = edges.flatMap { case (u, v) => Seq(u, v) }.toSet
          labels.map(_._1).toSet == nodes &&
            labels.length == nodes.size // one label per node
      }
    }, n = 5)
  }

  test("KN bigram probabilities stay in (0, 1] and sum ≤ 1 per context over observed followers") {
    check(Prop.forAll(Gen.listOfN(4, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rows = graft.ops.Text.knBigramCore(docs).collect()
        .map(r => (r.getString(0), r.getDouble(6)))
      rows.forall { case (_, p) => p > 0 && p <= 1 } &&
        // observed-follower mass never exceeds 1 (the discount holds
        // back exactly the continuation mass of unseen followers)
        rows.groupBy(_._1).forall { case (_, ps) => ps.map(_._2).sum <= 1.0 + 1e-9 }
    }, n = 5)
  }

  test("chunking reconstructs the document exactly (window/overlap invariant)") {
    // chunk i covers [i*stride, i*stride + window); window > stride →
    // chunk 0 plus every later chunk minus its `window - stride`
    // overlap re-concatenates to the document, for ANY text and any
    // valid (window, stride)
    val geom = Gen.oneOf((8, 5), (10, 10), (256, 192), (7, 3))
    val textGen = for {
      n <- Gen.choose(1, 400)
      cs <- Gen.listOfN(n, Gen.alphaNumChar)
    } yield cs.mkString
    check(Prop.forAll(Gen.listOfN(5, textGen), geom) { (texts, ws) =>
      val (window, stride) = ws
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, t.length.toLong) }
        .toDF("doc_id", "text", "n_chars")
      val chunks = graft.ops.Text.chunkCore(docs, window, stride)
        .collect().groupBy(_.getLong(0))
      texts.zipWithIndex.forall { case (t, i) =>
        val ordered = chunks(i.toLong).sortBy(_.getInt(1)).map(_.getString(2))
        val rebuilt = ordered.head + ordered.tail.map(_.drop(window - stride)).mkString
        rebuilt == t
      }
    }, n = 5)
  }
}
