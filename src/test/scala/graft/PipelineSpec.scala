package graft

import graft.ops.Pipeline
import org.apache.spark.sql.functions._

/** The composed pipeline flagship (chunk → hash-embed → SRP near-dup
  * prune → pack): planted-duplicate behavior, survivor packing
  * arithmetic, and the oracle's closure-unroll sufficiency. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** A corpus where doc 7 is a verbatim copy of doc 1 (every chunk an
    * exact near-dup) and the rest are distinct: word soup built from
    * per-doc tokens so cross-doc cosine stays low. */
  private def plantedDocs = {
    def soup(seed: Int) = (0 until 60).map(k => s"w${seed}x${(k * 7 + seed) % 23}").mkString(" ")
    val texts = Seq(
      1L -> soup(1), 2L -> soup(2), 3L -> soup(3),
      7L -> soup(1), // verbatim duplicate of doc 1
      9L -> soup(9))
    texts.map { case (id, t) => (id, s"src${id % 2}", t, t.length) }
      .toDF("doc_id", "source", "text", "n_chars")
  }

  test("planted verbatim duplicate: copy's chunks fold onto the original, others survive") {
    val out = Pipeline.pipelineCorpusCore(plantedDocs).collect()
    val byDoc = out.map(_.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    // doc 7 duplicates doc 1 exactly → every chunk of 7 clusters with
    // its doc-1 twin (smaller cid wins) and is pruned
    assert(!byDoc.contains(7L), s"duplicate doc's chunks must be pruned: $byDoc")
    // the original and the distinct docs keep all their chunks
    for (id <- Seq(1L, 2L, 3L, 9L))
      assert(byDoc.contains(id), s"doc $id unexpectedly pruned: $byDoc")
  }

  test("packing: bins are the exclusive running token total div capacity, per source") {
    val out = Pipeline.pipelineCorpusCore(plantedDocs)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4)))
    // replay the bin recurrence by hand over the survivor sequence
    out.groupBy(_._3).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(r => (r._1, r._2)).foreach { case (doc, idx, _, n, bin) =>
        assert(bin == (cum / 128).toInt, s"doc $doc chunk $idx: bin $bin, cum $cum")
        cum += n
      }
    }
  }

  test("prune stage drops real near-dup chunks on testdata and packing covers survivors") {
    val docs = Tables.documents(spark, sf0001)
    val out = Pipeline.pipelineCorpus(spark, sf0001)
    val nChunks = graft.ops.Text.chunkCore(docs, 256, 192).count()
    val nKept = out.count()
    assert(nKept > 0 && nKept <= nChunks)
    // the synthetic corpus plants verbatim repeats — the prune stage
    // must find some (32 confirmed edges at sf0.001; if the generator
    // ever stops planting dups this assert tells us the demo is vacuous)
    assert(nKept < nChunks, s"prune removed nothing ($nKept of $nChunks chunks)")
    // bins are dense per source: max(bin)+1 bins all non-empty
    val binStats = out.groupBy(col("source"), col("bin")).count()
      .groupBy(col("source")).agg(max(col("bin")).as("mx"), count(lit(1)).as("nb"))
      .collect()
    binStats.foreach { r =>
      assert(r.getAs[Long]("nb") == r.getAs[Int]("mx") + 1L,
        s"source ${r.get(0)}: ${r.getAs[Long]("nb")} bins but max bin ${r.getAs[Int]("mx")}")
    }
  }

  test("oracle's 20-round closure unroll reaches the Components fixed point on testdata") {
    // mirror of VectorsSpec's q_dedup_embed unroll pin, over CHUNK
    // vectors: re-run the oracle's exact min-label recurrence in Spark
    // and compare against the engine's pointer-jumping fixed point.
    val edges = Pipeline.nearDupEdges(Tables.documents(spark, sf0001)).persist()
    val und = edges.select($"src".as("a"), $"dst".as("b"))
      .unionByName(edges.select($"dst".as("a"), $"src".as("b")))
    val nodes = edges.select($"src".as("cid")).unionByName(edges.select($"dst".as("cid"))).distinct()
    var lbl = nodes.select($"cid", $"cid".as("lbl"))
    for (_ <- 1 to 20) {
      val nbrMin = und
        .join(lbl.select($"cid".as("nb"), $"lbl".as("nlbl")), $"b" === $"nb")
        .groupBy($"a").agg(min($"nlbl").as("nmin"))
      lbl = graft.ops.Iterate.leaf(
        lbl.join(nbrMin, $"cid" === $"a", "left")
          .select($"cid", least($"lbl", coalesce($"nmin", $"lbl")).as("lbl")))
    }
    val unrolled = lbl.as[(Long, Long)].collect().toMap
    val engine = graft.ops.Components.connectedComponents(
        edges.select($"src", $"dst"))
      .as[(Long, Long)].collect().toMap
    edges.unpersist()
    assert(unrolled == engine,
      "20-round unrolled propagation diverges from the Components fixed point — raise the oracle's unroll count")
  }
}
