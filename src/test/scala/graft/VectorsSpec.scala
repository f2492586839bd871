package graft

import org.apache.spark.sql.functions._

/** Vector-family guarantees that the driver's hash-compare can't see:
  * SRP-LSH's similarity-preservation (the property the old id-block
  * banding lacked), the IVF recall floor, and the sufficiency of the
  * q_dedup_embed oracle's 20-round propagation unroll. */
class VectorsSpec extends SparkSpec {
  import spark.implicits._

  test("JL projection: balanced sign matrix, mean distortion near 1 on the corpus") {
    // the ±1 matrix must be hash-derived and roughly balanced (a
    // degenerate all-+1 row would make distortion track ‖Σx‖ instead
    // of ‖x‖), and E[distortion] = 1 — pin the corpus mean within
    // 4σ/√n of 1 and every row strictly positive.
    val signs = ops.Vectors.jlSigns
    assert(signs.size == 16 && signs.forall(_.size == 64))
    signs.foreach { row =>
      val pos = row.count(_ == 1.0)
      assert(pos >= 16 && pos <= 48, s"sign row unbalanced: $pos of 64 positive")
      assert(row.forall(s => s == 1.0 || s == -1.0))
    }
    val rows = SparkEntry.queries("q_jl_project")(spark, sf0001).collect()
    val ds = rows.map(_.getDouble(3))
    assert(ds.forall(_ > 0), "distortion must be positive")
    val mean = ds.sum / ds.length
    val tol = 4 * math.sqrt(2.0 / 16) / math.sqrt(ds.length.toDouble)
    assert(math.abs(mean - 1.0) < tol + 0.05,
      s"mean distortion $mean drifted from 1 (tol $tol, n=${ds.length})")
  }

  /** 40 deterministic filler vectors plus an exact duplicate planted
    * at ids 3 and 480 — 477 ids apart, far beyond any id-adjacency
    * window. Fillers are pseudo-random unit-scale sinusoids; the
    * planted pair has cosine 1.0. */
  private def plantedCorpus = {
    val dup = (0 until 64).map(i => math.sin(i * 0.7 + 1).toFloat)
    val fillers = (0 until 40).map { k =>
      (k * 10 + 5L, k % 3, (0 until 64).map(i => math.sin(k * 64 + i * 1.3).toFloat))
    }
    (fillers :+ ((3L, 0, dup)) :+ ((480L, 0, dup)))
      .toDF("vec_id", "label", "embedding")
  }

  test("MMR: greedy order and λ arithmetic on hand-built vectors") {
    // q = e1. id1 = e1 (cos 1), id2 = e1 exact duplicate, id3 = (.6,.8)
    // (cos .6). Step 1 picks id1 (tiebreak on vec_id); step 2: dup mmr
    // = .7 − (1−.7)·1 = .4 beats id3's .7·.6 − .3·.6 = .24 (with λ=.7
    // an exact duplicate of a perfect hit still outranks a cos-.6
    // result — MMR trades off, it doesn't hard-dedup); step 3 takes
    // the remaining id3 at .24.
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val qv = array(lit(1.0), lit(0.0))
    val got = ops.Vectors.vectorMmrCore(emb, qv).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L), got.mkString(";"))
    assert(got(0)._4 == 0.7 && got(1)._4 == 0.4, got.mkString(";"))
    assert(math.abs(got(2)._4 - 0.24) < 1e-6, got.mkString(";"))
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
  }

  test("MMR on the harness embeddings: pick 1 is the brute-force argmax, picks distinct") {
    val mmr = ops.Vectors.vectorMmr(spark, sf0001).collect()
    assert(mmr.length == 3)
    assert(mmr.map(_.getLong(1)).distinct.length == 3)
    val top1 = ops.Vectors.vectorTopk(spark, sf0001).limit(1).collect().head.getLong(0)
    assert(mmr.head.getLong(1) == top1, "first MMR pick must be the plain top-1")
    // mmr = λ·cos_q − (1−λ)·msim with msim ∈ [−1, 1] (negative for
    // anti-correlated picks), so it may sit ABOVE λ·cos_q — but never
    // outside the ±(1−λ) band around it
    mmr.foreach(r => assert(
      math.abs(r.getDouble(3) - 0.7 * r.getDouble(2)) <= 0.3 + 1e-9, r.toString))
  }

  test("SRP-LSH finds a planted far-id duplicate that id-block banding provably misses") {
    val srp = ops.Vectors.srpPairs(plantedCorpus, 0.9)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(srp.contains((3L, 480L)),
      s"SRP-LSH missed the planted duplicate (found: $srp)")
    // the old candidate generator: same label, but 477 ids apart →
    // never in the same or adjacent vec_id/25 block → structurally
    // unable to find the pair regardless of similarity
    val banded = ops.Vectors.bandedPairs(plantedCorpus, 0.9)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(!banded.contains((3L, 480L)),
      "id-block banding unexpectedly found the far-id pair — this spec documents why SRP replaced it")
  }

  test("exact duplicates collide in every SRP band (recall 1 at cos = 1)") {
    // cos = 1 → every hyperplane dot has the same sign → all 4 band
    // keys equal; the pair is found 4 times over before dedup, so no
    // single band's 8-bit key is load-bearing
    val pairs = ops.Vectors.srpPairs(plantedCorpus, 0.999999)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 480L)), s"expected exactly the planted pair, got $pairs")
  }

  test("native srp_band_keys is bit-identical to the HOF fold rendering") {
    // the production path (one fused pass, codegen'd) vs the reference
    // HOF semantics (32 interpreted aggregate/zip_with folds): same
    // doubles, same signs, same packed keys — on real testdata AND the
    // planted corpus (which exercises the all-bits-agree case)
    for (df <- Seq(
        Tables.embeddings(spark, sf0001).select($"vec_id",
          transform($"embedding", x => x.cast("double")).as("v")),
        plantedCorpus.select($"vec_id",
          transform($"embedding", x => x.cast("double")).as("v")))) {
      val native = df.select($"vec_id",
        graft.functions.SrpBandKeys.srpBandKeys($"v", 4, 8).as("keys"))
        .as[(Long, Seq[Int])].collect().toMap
      val hof = df.select($"vec_id",
        array((0 until 4).map(b => ops.Vectors.bandKeyHof($"v", b)): _*).as("keys"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(native == hof)
    }
  }

  test("IVF recall@10 vs exact top-k stays above the documented floor") {
    // near-random corpus = worst case for partition-pruned ANN (true
    // neighbors spread uniformly over buckets); the observed 0.2 at
    // sf0.001 is the tradeoff vectorIvf's scaladoc documents, pinned
    // here so a quantizer regression (wrong bucket bits, wrong probe
    // bucket) trips a test instead of silently returning junk
    val exact = ops.Vectors.vectorTopk(spark, sf0001)
      .limit(10).select("vec_id").as[Long].collect().toSet
    val ivf = ops.Vectors.vectorIvf(spark, sf0001)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & ivf).size / 10.0
    assert(recall >= 0.1, s"IVF recall@10 = $recall < 0.1 floor (exact=$exact ivf=$ivf)")
    // multi-probe (query bucket + 3 Hamming-1 neighbors, 4/8 scan
    // fraction) must clearly beat single-probe — observed 0.6 vs 0.2
    val probe = ops.Vectors.vectorIvfProbe(spark, sf0001)
      .select("vec_id").as[Long].collect().toSet
    val probeRecall = (exact & probe).size / 10.0
    assert(probeRecall >= 0.5,
      s"multi-probe IVF recall@10 = $probeRecall < 0.5 floor (exact=$exact probe=$probe)")
    assert(probeRecall >= recall, "multi-probe must never lose to single-probe")
  }

  test("batched ANN: every query's self-hit ranks first, 10 rows per query") {
    val got = ops.Vectors.vectorTopkBatch(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val perQuery = got.groupBy(_._1)
    assert(perQuery.nonEmpty)
    perQuery.foreach { case (qid, rows) =>
      assert(rows.length == 10, s"query $qid returned ${rows.length} rows")
      // rows come back in rank order: head is the self-hit at cos 1
      assert(rows.head._2 == qid && math.abs(rows.head._3 - 1.0) < 1e-12,
        s"query $qid self-hit missing: ${rows.head}")
    }
  }

  test("two-stage topKPerQid is row-identical to the single-window rendering") {
    import org.apache.spark.sql.expressions.Window
    // (1) synthetic relation with DELIBERATE score ties across shards,
    // so the vec_id tiebreak path is what decides the cut — the case
    // where a buggy shard split would diverge from the single window
    val scored = spark.range(0, 2000).select(
      (col("id") % 4).as("qid"), col("id").as("vec_id"),
      ((col("id") * 37) % 11).cast("double").as("cos"))
    val order = Seq(col("cos").desc, col("vec_id").asc)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.select(col("qid"), col("vec_id"), col("cos"), col("rn"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val two = canon(ops.Vectors.topKPerQid(scored, order, 10, "rn"))
    val one = canon(scored.withColumn("rn",
      row_number().over(Window.partitionBy(col("qid")).orderBy(order: _*)))
      .filter(col("rn") <= 10))
    assert(two == one, s"two-stage diverged from single window:\n  two-one=${two -- one}\n  one-two=${one -- two}")
    // (2) the real V5 serving query vs its single-window rendering on
    // the corpus — end-to-end pin that the r8 rewrite changed no rows
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val cos = expr("aggregate(zip_with(v, qv, (x, y) -> x * y), 0.0D, (a, x) -> a + x)") /
      (sqrt(expr("aggregate(transform(v, x -> x * x), 0.0D, (a, x) -> a + x)")) *
        sqrt(expr("aggregate(transform(qv, x -> x * x), 0.0D, (a, x) -> a + x)")))
    val naive = e.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"), cos.as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rn") <= 10).drop("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = ops.Vectors.vectorTopkBatch(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == naive, "V5 two-stage output diverged from the single-window rendering")
  }

  test("ann recall harness: invariants hold and the batch mean clears the single-probe floor") {
    val rows = ops.Vectors.annRecall(spark, sf0001).collect()
    assert(rows.nonEmpty, "the query batch must be non-empty")
    rows.foreach { r =>
      val (nApprox, nHits, recall) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nApprox <= 10, s"approx top-k must cap at 10: $r")
      assert(nHits <= nApprox, s"hits cannot exceed approx candidates: $r")
      assert(recall == math.round(nHits / 10.0 * 100) / 100.0, s"recall arithmetic: $r")
      // the query's own vector lives in its own bucket → the self-hit
      // (truth rank 1) is always recoverable → recall can't be 0
      assert(nHits >= 1, s"self-hit must always be found: $r")
    }
    // the documented single-probe floor (the IVF spec's 0.1) holds in
    // the mean over the whole batch, not just the fixed spec query
    val mean = rows.map(_.getDouble(4)).sum / rows.length
    assert(mean >= 0.1, s"mean recall $mean below the single-probe floor")
  }

  test("k-means: every vector assigned once, all 4 clusters alive, seeds stay home") {
    val out = ops.Vectors.kmeans(spark, sf0001).collect()
    assert(out.length == 500)
    assert(out.map(_.getLong(0)).distinct.length == 500, "one row per vector")
    val byCluster = out.groupBy(_.getLong(1))
    assert(byCluster.keySet == Set(0L, 1L, 2L, 3L), s"clusters ${byCluster.keySet}")
    // distances are squared L2: non-negative everywhere
    assert(out.forall(_.getDouble(2) >= 0.0))
    // each seed vector remains in the cluster it seeded (centroids
    // move, but not past another seed on this corpus)
    val seedHome = out.filter(r => Set(0L, 100L, 200L, 300L)(r.getLong(0)))
      .map(r => r.getLong(0) / 100 == r.getLong(1)).forall(identity)
    assert(seedHome, "a seed vector left its own cluster")
  }

  test("z-score normalization: per-dimension mean ~0 and variance ~1") {
    // the contract the declared query's reductions can't see: after
    // normalization every dimension is centered and unit-variance (up
    // to the lockstep 4-decimal rounding of the moment sums, which
    // bounds |mean| by 5e-5/(n·sd) and |var−1| by ~1e-4 here)
    val dims = ops.Vectors.zScores(Tables.embeddings(spark, sf0001))
      .select(posexplode(col("z")).as(Seq("i", "zz")))
      .groupBy(col("i"))
      .agg(avg(col("zz")).as("m"), var_pop(col("zz")).as("v"))
      .collect()
    assert(dims.length == 64)
    dims.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-6, s"dim ${r.get(0)} mean ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-3, s"dim ${r.get(0)} var ${r.getDouble(2)}")
    }
  }

  test("q_dedup_embed oracle's 20-round unroll reaches the fixed point on testdata") {
    // the DuckDB oracle unrolls exactly 20 propagation rounds while
    // the engine runs Components to a fixed point; a similarity chain
    // of diameter beyond the unroll silently diverges (the sf0.1 sweep
    // caught a 10-round unroll short: the percolated giant component
    // there needs 16). Re-run the oracle's exact recurrence in Spark
    // and assert it matches the engine's fixed point.
    val emb = Tables.embeddings(spark, sf0001)
    val edges = ops.Vectors.srpPairs(emb, 0.25)
    val und = edges.select($"va".as("a"), $"vb".as("b"))
      .unionByName(edges.select($"vb".as("a"), $"va".as("b")))
      .persist()
    var lbl = emb.select($"vec_id", $"vec_id".as("lbl"))
    for (_ <- 1 to 20) {
      val nbrMin = und
        .join(lbl.select($"vec_id".as("nb"), $"lbl".as("nlbl")), $"b" === $"nb")
        .groupBy($"a").agg(min($"nlbl").as("nmin"))
      // shallow plan AND reset inherited stats
      lbl = graft.ops.Iterate.leaf(
        lbl.join(nbrMin, $"vec_id" === $"a", "left")
          .select($"vec_id", least($"lbl", coalesce($"nmin", $"lbl")).as("lbl")))
    }
    val unrolled = lbl.as[(Long, Long)].collect().toMap
    val engine = ops.Vectors.dedupEmbed(spark, sf0001)
      .select("vec_id", "cluster_rep").as[(Long, Long)].collect().toMap
    und.unpersist()
    assert(unrolled == engine,
      "20-round unrolled propagation diverges from the Components fixed point — raise the oracle's unroll count")
  }

  test("exact-collapse front: k=100 clone group, output identical, candidate pairs cut O(k^2) -> O(k)") {
    // a crawl-shaped corpus: one embedding cloned 100× at scattered
    // ids, plus the 40 distinct fillers. The collapse front must (a)
    // produce EXACTLY the same cluster assignment as the uncollapsed
    // reference (LSH over all vectors, no star edges), and (b) enter
    // the banded self-join with the clone group as ONE representative —
    // the candidate-count contract that keeps boilerplate-heavy
    // corpora from going quadratic.
    val k = 100
    val clone = (0 until 64).map(i => math.cos(i * 0.9 + 2).toFloat)
    val fillers = (0 until 40).map { j =>
      (j * 10 + 7L, (0 until 64).map(i => math.sin(j * 64 + i * 1.3).toFloat))
    }
    val clones = (0 until k).map(j => (1000L + j * 13, clone))
    val e = (fillers ++ clones).toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    // (a) output identity vs the uncollapsed reference
    val collapsed = ops.Vectors.dedupEmbedCore(e, 0.9)
      .select("vec_id", "cluster_rep").as[(Long, Long)].collect().toMap
    val refEdges = ops.Vectors.srpPairsOf(e, 0.9)
      .select($"va".as("src"), $"vb".as("dst"))
    val refComps = ops.Components.connectedComponents(refEdges)
      .select($"node".as("vec_id"), $"comp".as("rep"))
    val uncollapsed = e.select($"vec_id")
      .join(refComps, Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"rep", $"vec_id").as("cluster_rep"))
      .as[(Long, Long)].collect().toMap
    assert(collapsed == uncollapsed,
      "exact-collapse front changed the cluster assignment")
    // the clone group actually collapsed to its min id
    val cloneIds = clones.map(_._1).toSet
    val groupRep = cloneIds.min
    assert(cloneIds.forall(id => collapsed(id) == groupRep))
    // (b) the candidate cut: uncollapsed candidates hold all C(k,2)
    // clone pairs (identical vectors collide in every band); collapsed
    // candidates hold NONE of them (one rep entered the join)
    val clonePairs = (k.toLong * (k - 1)) / 2
    val rawCand = ops.Vectors.srpCandidates(e)
      .as[(Long, Long)].collect()
      .count { case (a, b) => cloneIds(a) && cloneIds(b) }
    assert(rawCand == clonePairs, s"expected all $clonePairs clone pairs raw, got $rawCand")
    val reps = e.groupBy($"v").agg(min($"vec_id").as("vec_id"))
      .select($"vec_id", $"v")
    val cutCand = ops.Vectors.srpCandidates(reps)
      .as[(Long, Long)].collect()
      .count { case (a, b) => cloneIds(a) && cloneIds(b) }
    assert(cutCand == 0, s"collapsed front still emitted $cutCand intra-clone candidates")
  }

  test("semantic dedup: reps are cluster-local min ids and the cosine gate genuinely prunes") {
    val out = ops.Vectors.dedupSemantic(spark, sf0001).collect()
    assert(out.length == 500)
    val clusterOf = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      // a rep can only come from within-cluster edges — it must share
      // its member's k-means cluster (pairs never cross clusters)
      assert(clusterOf(r.getLong(2)) == r.getLong(1),
        s"rep ${r.getLong(2)} crossed out of cluster ${r.getLong(1)}")
      // min-id convention + flag consistency
      assert(r.getLong(2) <= r.getLong(0))
      assert(r.getBoolean(3) == (r.getLong(2) != r.getLong(0)))
    }
    val nDup = out.count(_.getBoolean(3))
    assert(nDup > 0 && nDup < 250,
      s"SemCos gate should prune some but not most of the corpus, got $nDup dups")
  }

  test("PQ ADC: 5 ranked rows per query, distances ascend, every self-hit survives quantization") {
    val rows = SparkEntry.queries("q_ann_pq")(spark, sf0001).collect()
    assert(rows.length == 25, s"5 queries x top-5, got ${rows.length}")
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(7L, 107L, 207L, 307L, 407L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 5), s"ranks for $q")
      val d = rs.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b },
        s"adist must be non-decreasing in rank for $q: ${d.toSeq}")
      assert(d.head >= 0L)
    }
    // ADC distance of a vector to ITS OWN query is pure quantization
    // error — small enough on this corpus that all 5 self-hits stay
    // inside the top-5 (deterministic on the fixed testdata)
    val selfHits = byQ.count { case (q, rs) => rs.exists(_.getLong(2) == q) }
    assert(selfHits == 5, s"PQ self-recall degraded: $selfHits/5")
  }

  test("PQ fixed batch: 20 pinned queries, and the overlap with the corpus-derived batch agrees row for row") {
    val fixed = SparkEntry.queries("q_ann_pq_fixed")(spark, sf0001).collect()
    assert(fixed.length == 20 * 5, s"20 queries x top-5, got ${fixed.length}")
    val byQ = fixed.groupBy(_.getLong(0))
    assert(byQ.keySet == ops.Vectors.PqFixedBatch.toSet,
      s"batch must be exactly PqFixedBatch, got ${byQ.keySet}")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 5), s"ranks for $q")
      val d = rs.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b }, s"adist order for $q")
    }
    // Same pipeline, same codebook: for the five qids both batches
    // contain (7, 107, …, 407), the two faces must serve IDENTICAL
    // rankings — batch membership must not leak into per-query scores.
    val derived = SparkEntry.queries("q_ann_pq")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val overlap = fixed.filter(r => derived.contains((r.getLong(0), r.getInt(1))))
    assert(overlap.length == 25, s"expected 5 shared qids x 5 ranks, got ${overlap.length}")
    overlap.foreach { r =>
      val exp = derived((r.getLong(0), r.getInt(1)))
      assert((r.getLong(2), r.getLong(3)) == exp,
        s"fixed-batch row diverged from corpus-batch row: $r vs $exp")
    }
  }

  test("PQ recall harness: refine dominates raw ADC per query and recovers real recall") {
    val rows = SparkEntry.queries("q_ann_pq_recall")(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(7L, 107L, 207L, 307L, 407L))
    rows.foreach { r =>
      val (hAdc, hRef) = (r.getLong(1), r.getLong(3))
      assert(hAdc >= 0 && hAdc <= 5 && hRef >= 0 && hRef <= 5, r.toString)
      // any truth vector the raw ADC top-5 finds is in the shortlist,
      // and exact re-ranking within the shortlist can only promote
      // truth vectors — so refine dominates ADC pointwise, always
      assert(hRef >= hAdc, s"refine must dominate raw ADC: $r")
      assert(math.abs(r.getDouble(2) - hAdc / 5.0) < 1e-9, r.toString)
      assert(math.abs(r.getDouble(4) - hRef / 5.0) < 1e-9, r.toString)
    }
    val meanAdc = rows.map(_.getLong(1)).sum / 5.0
    val meanRef = rows.map(_.getLong(3)).sum / 5.0
    assert(meanRef > meanAdc,
      s"on the harness corpus the refine tier must add recall: $meanAdc vs $meanRef")
  }

  test("PCA power iteration: hand-solved 2-dim corpus lands exactly on the variance axis") {
    import spark.implicits._
    // points (±1, 0), (±2, 0): means (0,0); cov diag (2.5, 0); the
    // first power step already normalizes to (1, 0) and stays there.
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)),
      (3L, Seq(2.0f, 0.0f)), (4L, Seq(-2.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val rows = ops.Vectors.pcaPowerCore(emb, width = 2).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.size == 2)
    val d0 = rows(0)
    assert(d0.getDouble(1) == 0.0 && d0.getDouble(2) == 2.5, d0.toString)
    assert(d0.getDouble(3) == 1.0, s"PC1 must align with the variance axis: $d0")
    assert(d0.getDouble(4) == 2.5 && d0.getDouble(5) == 1.0, d0.toString)
    val d1 = rows(1)
    assert(d1.getDouble(2) == 0.0 && d1.getDouble(3) == 0.0, d1.toString)
  }

  test("PCA power iteration: Rayleigh estimate is a monotone lower bound with contracting gains") {
    val emb = Tables.embeddings(spark, sf0001)
    def lamAt(k: Int): Double =
      ops.Vectors.pcaPowerCore(emb, iters = k).collect().head.getDouble(4)
    val lams = Seq(1, 2, 4, 7, 8).map(k => k -> lamAt(k))
    lams.sliding(2).foreach { case Seq((ka, a), (kb, b)) =>
      assert(b >= a, s"Rayleigh must be non-decreasing: iters $ka=$a vs $kb=$b")
    }
    // contraction: the late gain is a fraction of the early one (the
    // harness corpus is near-isotropic, so full convergence by round 8
    // is not claimed — the estimate is an honest lower bound)
    val early = lams(1)._2 - lams(0)._2
    val late = lams(4)._2 - lams(3)._2
    assert(late < early, s"per-round gain must contract: early $early vs late $late")
    // the reported direction is unit-norm and spread, not a degenerate axis
    val v8 = ops.Vectors.pcaPowerCore(emb).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    val norm = math.sqrt(v8.values.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"unit loading vector, got norm $norm")
    assert(v8.values.count(x => math.abs(x) > 0.05) > 8,
      "PC1 should spread across dimensions on this corpus")
  }

  test("IVFADC: ranked rows per query, every hit in a probed cell, distances ascend") {
    val rows = SparkEntry.queries("q_ann_ivfpq")(spark, sf0001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(7L, 107L, 207L, 307L, 407L))
    // the query's own cell, recomputed with the engine's sign rule
    val cells = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        (when(element_at(col("embedding"), 1) > 0, 4).otherwise(0) +
          when(element_at(col("embedding"), 2) > 0, 2).otherwise(0) +
          when(element_at(col("embedding"), 3) > 0, 1).otherwise(0)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length), s"ranks for $q")
      val d = rs.sortBy(_.getInt(1)).map(_.getLong(4))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b },
        s"adist must be non-decreasing in rank for $q: ${d.toSeq}")
      val probed = Set(0, 1, 2, 4).map(cells(q) ^ _)
      rs.foreach { r =>
        assert(probed(r.getInt(3)),
          s"hit ${r.getLong(2)} sits in cell ${r.getInt(3)}, outside $q's probes $probed")
        assert(cells(r.getLong(2)) == r.getInt(3),
          s"reported cell must be the hit's own cell: $r")
      }
    }
  }

  test("IVFADC pruning: a closer vector in an unprobed cell is never served") {
    import spark.implicits._
    // query 9 = (+,+,+,...) → cell 7, probes {7,6,5,3}. `near` flips
    // dims 1-3 negative → cell 0 (Hamming-3, unprobed) though it is
    // the cosine-nearest non-self vector; `far` shares cell 7 but sits
    // further. IVFADC must serve `far` and never `near` — the recall
    // trade the inverted file makes, pinned as a semantic, not a bug.
    def vec(s1: Double, s2: Double, s3: Double, seed: Int) =
      (Seq(s1, s2, s3) ++ (3 until 64).map(i => math.sin(seed * 64 + i * 1.3)))
        .map(_.toFloat)
    val base = vec(1, 1, 1, 0)
    val near = (vec(-0.01, -0.01, -0.01, 0), 20L)  // base with dims 1-3 barely negative
    val corpus = Seq(
      (9L, base), (near._2, near._1),
      (30L, vec(2, 1, 1, 0)),           // same cell, same tail → near in cell 7
      (1L, vec(1, 1, 1, 1)), (2L, vec(1, 1, -1, 2)),
      (3L, vec(1, -1, 1, 3)), (4L, vec(-1, 1, 1, 4)),
    ).toDF("vec_id", "embedding")
    val got = ops.Vectors.ivfPqCore(corpus, topK = 3,
      seedIds = Seq(1L, 2L, 3L, 4L),
      queryPred = col("vec_id") === 9L).collect()
    assert(got.nonEmpty, "IVFADC returned nothing for the planted query")
    val served = got.map(_.getLong(2)).toSet
    assert(!served.contains(20L),
      s"vector 20 lives in unprobed cell 0 and must be pruned, got $served")
    assert(served.contains(30L), s"same-cell neighbor must be served, got $served")
  }

  test("rank metrics: integer DCG discounts, multi-probe dominates single-probe recall") {
    val w = ops.Vectors.DcgWeightsMicro
    assert(w.head == 1000000L && w.size == 10)
    assert(w.zip(w.tail).forall { case (a, b) => a > b }, s"discounts must strictly decrease: $w")
    val rows = SparkEntry.queries("q_rank_metrics")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(7L, 107L, 207L, 307L, 407L))
    rows.values.foreach { r =>
      val (nh, rec, mrr, ndcg) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(nh >= 0 && nh <= 10, r.toString)
      assert(math.abs(rec - nh / 10.0) < 1e-9, r.toString)
      assert(mrr >= 0.0 && mrr <= 1.0 && ndcg >= 0.0 && ndcg <= 1.0, r.toString)
      assert((nh == 0) == (mrr == 0.0), s"mrr is 0 iff no hits: $r")
      if (nh == 10) assert(ndcg == 1.0,
        s"all-10 intersection fills every DCG position regardless of order: $r")
      if (mrr == 1.0) assert(ndcg >= w(0).toDouble / w.sum - 1e-9, r.toString)
    }
    // the multi-probe tier scans a superset of the single-probe cell,
    // so per-query recall@10 can only rise vs q_ann_recall
    val single = SparkEntry.queries("q_ann_recall")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    rows.foreach { case (q, r) =>
      assert(r.getDouble(2) >= single(q) - 1e-9,
        s"multi-probe recall must dominate single-probe for $q: ${r.getDouble(2)} vs ${single(q)}")
    }
  }

  test("label spread: seeds keep labels, a planted clone of a seed inherits its label") {
    import spark.implicits._
    // seed 10 (label 5) and its exact clone 13 (unlabeled stride);
    // 23 is unlabeled and orthogonal-ish to everything — no votes
    def unit(axis: Int) = (0 until 64).map(i => if (i == axis) 1.0f else 0.0f)
    val emb = Seq(
      (10L, unit(0), 5), (13L, unit(0), 99),
      (20L, unit(7), 1), (23L, unit(19), 99),
    ).toDF("vec_id", "embedding", "label")
    val got = ops.Vectors.labelSpreadCore(emb).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toMap
    assert(got(10L) == (("seed", 5L, 0L)), got(10L).toString)
    assert(got(20L) == (("seed", 1L, 0L)), got(20L).toString)
    // clones share every SRP band and cos = 1 ≥ threshold: the label crosses
    assert(got(13L) == (("propagated", 5L, 1L)), got(13L).toString)
    // the planted label 99 on unlabeled rows must never leak through
    assert(got(13L)._2 != 99L && got(23L)._2 != 99L)
    assert(got(23L)._1 == "unlabeled" && got(23L)._2 == -1L, got(23L).toString)
  }

  test("label spread on the harness corpus: statuses partition, votes positive, labels real") {
    val emb = Tables.embeddings(spark, sf0001)
    val validLabels = emb.select("label").distinct().collect().map(_.getInt(0).toLong).toSet
    val rows = SparkEntry.queries("q_label_spread")(spark, sf0001).collect()
    assert(rows.length == emb.count(), "one row per vector")
    rows.foreach { r =>
      val (id, st, nv) = (r.getLong(0), r.getString(1), r.getLong(3))
      if (id % 10 < 3) assert(st == "seed" && nv == 0L, r.toString)
      else if (st == "propagated") {
        assert(nv >= 1L, r.toString)
        assert(validLabels(r.getLong(2)), s"propagated label must come from a seed: $r")
      } else { assert(st == "unlabeled" && r.isNullAt(2) && nv == 0L, r.toString) }
    }
    assert(rows.count(_.getString(1) == "propagated") > 0,
      "the LSH graph must reach at least one unlabeled vector on this corpus")
  }

  test("RRF fusion: weights exact, scores recompute from tier ranks, order honest") {
    val w = ops.Vectors.RrfWeightsNano
    assert(w.head == math.round(1e9 / 61.0) && w.size == 10)
    assert(w.zip(w.tail).forall { case (a, b) => a > b })
    val rows = SparkEntry.queries("q_rrf_fusion")(spark, sf0001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(7L, 107L, 207L, 307L, 407L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 5), s"fused ranks for $q")
      rs.foreach { r =>
        val wc = if (r.isNullAt(4)) 0L else w(r.getInt(4) - 1)
        val wi = if (r.isNullAt(5)) 0L else w(r.getInt(5) - 1)
        assert(r.getLong(3) == wc + wi, s"rrf_nano must recompute from tier ranks: $r")
        assert(!(r.isNullAt(4) && r.isNullAt(5)), s"a fused row must come from some tier: $r")
      }
      val sorted = rs.sortBy(_.getInt(1))
      val scores = sorted.map(_.getLong(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"fused score must be non-increasing in rank for $q: ${scores.toSeq}")
      // a double rank-1 hit is unbeatable; when present it must lead
      sorted.find(r => !r.isNullAt(4) && r.getInt(4) == 1 && !r.isNullAt(5) && r.getInt(5) == 1)
        .foreach(r => assert(r.getInt(1) == 1, s"double rank-1 must fuse first: $r"))
    }
  }

  test("hard negatives: tiers disjoint, rank bands honest, anchors never sampled") {
    val rows = SparkEntry.queries("q_hard_negatives")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(7L, 107L, 207L, 307L, 407L))
    byQ.foreach { case (q, rs) =>
      assert(rs.forall(_._4 != q), s"anchor $q sampled as its own pair")
      val byTier = rs.groupBy(_._2).view.mapValues(_.map(_._4).toSet).toMap
      assert(byTier.keySet == Set("positive", "hard_negative", "easy_negative"), s"$q: ${byTier.keySet}")
      assert(byTier("positive").size == 5 && byTier("hard_negative").size == 10, s"$q rank bands")
      assert(byTier("easy_negative").size <= 5 && byTier("easy_negative").nonEmpty, s"$q easy tier")
      val all = byTier.values.toSeq
      assert(all.map(_.size).sum == all.reduce(_ ++ _).size, s"$q: tiers must be disjoint")
      // rank bands track the cosine ordering: every positive ≥ every hard
      val minPos = rs.filter(_._2 == "positive").map(_._5).min
      val maxHard = rs.filter(_._2 == "hard_negative").map(_._5).max
      assert(minPos >= maxHard, s"$q: positives must dominate hard negatives ($minPos < $maxHard)")
      rs.filter(_._2 == "easy_negative").foreach { e =>
        assert(e._4 % 97 == 13, s"easy negative off the stride: $e")
      }
    }
  }
}
