package graft

/** Second-decade timing gate (r7 verdict task 4): every scale slope in
  * the record through r7 spans ONE decade (sf0.1 -> sf1). A plan can
  * look linear over one decade and still hide a superlinear term that
  * only dominates at the next one (exactly how q_equidepth_hist's cent
  * flip hid below sf10 mass — bench/ROUNDING_CONTRACTS.md), so this
  * main measures the linear-family heavies across BOTH decades:
  * sf0.1 -> scale_data/sf1 -> scale_data/sf10 (60 M lineitem, 500 k
  * docs; `graft.ScaleUp /root/testdata/sf0.1 scale_data/sf10 100` —
  * sf10 is synthesized from sf0.1 directly, NOT from sf1, because
  * ScaleUp's shard stride is fixed at 1e8 and re-sharding already-
  * offset sf1 keys would collide shard 9 of the first pass with
  * shard 0+9 of the second).
  *
  * Discipline matches the Bench sf1 tier (r6 postmortem): all three
  * tiers of one query run back-to-back in ONE load window (paired),
  * each tier is min-of-2 after an untimed warm-up, memos/caches are
  * cleared between timed runs, and the load-average window brackets
  * each query in the artifact. Slope budgets are per-DECADE: the same
  * scale_budgets.tsv rows gate sf1->sf10 that gate sf0.1->sf1 —
  * a query linear over decade 1 but not decade 2 is a round-stopping
  * find by the r7 verdict's definition.
  *
  * Query slice: the linear-tier heavies (TPC-H shapes, cluster-level
  * dedup rollups, the iterative graph family, event flagships, PQ
  * serving, the composed corpus flagship). The pair-LISTING dedups
  * run both decades too — but on the MUTATED clone corpus
  * ([[MutatedBothDecades]]; r11): on verbatim clones their output
  * grows ~C(c,2) per clone group (4,950 identity pairs per doc at
  * c=100 — the generator's artifact, not the algorithm's), while the
  * mutated corpus holds near-dup density constant so the measured
  * slope is the algorithm's. Still excluded from the sf10 tier, with
  * the reason recorded in the artifact: the exact wedge family
  * (documented O(m^1.5): 100x edges -> 1,000x wedges — a ~40 min
  * single query that measures the documented bound, not linearity;
  * its measurable representative is the sampled q_triangles_est,
  * gated both decades above).
  * q_ann_pq_recall runs the FIRST decade only: its truth tier is
  * O(corpus x batch) with a corpus-derived batch (100x per decade by
  * design); its measured first-decade slope is what re-derives its
  * budget row (r7 verdict task 8).
  */
object ScaleDecades {

  /** Queries measured across both decades. */
  val BothDecades: Seq[String] = Seq(
    "q_agg_basic", "q_tpch_regional", "q_tpch_shipping",
    "q_tpch_bigorders", "q_tpch_profit", "q_tpch_promo",
    "q_dedup_exact", "q_dedup_normalized", "q_dedup_lines",
    "q_dedup_survivors",
    "q_pagerank", "q_communities",
    "q_funnel", "q_pipeline_events",
    "q_ann_pq", "q_ann_pq_fixed", "q_pipeline_corpus",
    // the wedge family's measurable representative (r10 verdict task
    // 5): the DOULION sampled estimator is what a 100 TB deployment
    // runs for the triangle census, and unlike the exact tier its
    // thinned wedge stream (p^1.5 of the exact mass) stays
    // overhead-dominated through the second decade — so ITS slope is
    // gate-able where q_triangles/q_clustering's d2 is priced, not
    // measured
    "q_triangles_est")

  /** Queries measured on the first decade only (superlinear-by-
    * design cost models at 100x — see scaladoc). */
  val FirstDecadeOnly: Seq[String] = Seq("q_ann_pq_recall")

  /** The pair-LISTING dedup family, measured across both decades on
    * the MUTATED clone corpus (r10 verdict task 2: `graft.ScaleUp
    * <src> <out> <factor> --mutate-docs`). On the verbatim-clone
    * corpus every clone pair is a true near-dup pair, so these
    * queries' output grows ~C(factor,2) per doc and their slopes
    * price the generator (the old 45 budgets). The mutated corpus
    * holds near-dup density constant per doc (see
    * ScaleUp.MutateWindows), so THESE rows measure the algorithm —
    * candidate generation + verification — and carry the re-derived
    * budgets. Bench's sf1 scale_up tier points the same queries at
    * the mutated sf1 sibling for the same reason. */
  val MutatedBothDecades: Seq[String] = Seq(
    "q_dedup_ngram", "q_dedup_ngram_idf", "q_dedup_prefix",
    "q_dedup_edit", "q_dedup_containment")

  def main(args: Array[String]): Unit = {
    val dirs = Seq(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/repo/scale_data/sf1"),
      sys.env.getOrElse("SPARK_GRAFT_SF_BIG2", "/root/repo/scale_data/sf10"))
    val spark = Harness.session(partitions = 32)
    def timedOnce(name: String, dir: String): Double =
      Harness.timedOnce(spark, "decades", name, SparkEntry.queries(name), dir)
    def timed(name: String, dir: String): Double = {
      timedOnce(name, dir) // untimed warm-up: JIT/codegen/scan-index
      // A -1 (crash/OOM) sample must not poison a successful twin
      // (r8 ADVICE): min over the SUCCESSFUL samples; -1 only when
      // BOTH runs failed.
      val samples = Seq(timedOnce(name, dir), timedOnce(name, dir)).filter(_ > 0)
      if (samples.isEmpty) -1.0 else samples.min
    }

    val chosen = Harness.select().keySet
    def selected(qs: Seq[String]) = qs.filter(chosen)

    // the pair-listing dedup family runs its big tiers on the MUTATED
    // clone corpus (see MutatedBothDecades); absent dirs are a loud
    // exclusion, never a silent one
    val mutDirs = Seq(dirs.head,
      sys.env.getOrElse("SPARK_GRAFT_SF_BIG_MUT", "/root/repo/scale_data/sf1mut"),
      sys.env.getOrElse("SPARK_GRAFT_SF_BIG2_MUT", "/root/repo/scale_data/sf10mut"))
    val mutReady = mutDirs.tail.forall(d => new java.io.File(d).isDirectory)
    if (!mutReady)
      println(s"[decades] EXCLUDED ${selected(MutatedBothDecades).mkString(",")}: " +
        s"mutated corpus dirs missing (${mutDirs.tail.mkString(", ")}) — " +
        "generate with: runMain graft.ScaleUp /root/testdata/sf0.1 <dir> <factor> --mutate-docs")

    val rows = (selected(BothDecades).map(q => (q, dirs, 3)) ++
        selected(FirstDecadeOnly).map(q => (q, dirs, 2)) ++
        (if (mutReady) selected(MutatedBothDecades).map(q => (q, mutDirs, 3))
         else Seq.empty)).map { case (q, qDirs, nTiers) =>
      val l0 = Harness.loadAvg
      val ts = qDirs.take(nTiers).map(d => timed(q, d))
      val l1 = Harness.loadAvg
      val slopes = ts.sliding(2).map {
        case Seq(a, b) if a > 0 && b > 0 => b / a
        case _ => -1.0
      }.toSeq
      // per-DECADE budgets (r8 ADVICE): a family whose quadratic term
      // only dominates at the second decade (q_ann_pq) keeps a tight
      // regression-catching decade-1 gate instead of inheriting the
      // loose decade-2 number
      val bgts = slopes.indices.map(i => Harness.slopeBudget(q, i))
      val flagged = slopes.zip(bgts).exists { case (s, b) => s > 0 && s > b }
      // A crash/OOM at any tier is a first-class failure, not a
      // silently-dropped slope pair (r8 ADVICE).
      val failedTiers = ts.zipWithIndex.collect { case (t, i) if t < 0 => i }
      val mut = qDirs ne dirs
      println(f"[decades] $q%-22s " +
        ts.map(t => f"$t%8.2f").mkString(" ") + "  slopes " +
        slopes.map(s => f"$s%6.2f").mkString(" ") +
        "  budgets " + bgts.map(b => f"$b%5.1f").mkString(" ") +
        f"  load [$l0%.1f,$l1%.1f]" +
        (if (mut) "  [mutated corpus]" else "") +
        (if (flagged) "  OVER" else "") +
        (if (failedTiers.nonEmpty) s"  FAILED tiers ${failedTiers.mkString(",")}" else ""))
      (q, ts, slopes, bgts, flagged, failedTiers, l0, l1, mut)
    }

    val over = rows.collect { case (q, _, _, _, true, _, _, _, _) => q }
    val failed = rows.collect {
      case (q, _, _, _, _, ft, _, _, _) if ft.nonEmpty =>
        s""""$q":[${ft.mkString(",")}]""" }
    val json = rows.map { case (q, ts, slopes, bgts, flagged, ft, l0, l1, mut) =>
      s""""$q":{"secs":[${ts.mkString(",")}],"slopes":[${
        slopes.map(s => math.round(s * 100) / 100.0).mkString(",")
      }],"budgets":[${bgts.mkString(",")}],"over":$flagged,"failed_tiers":[${
        ft.mkString(",")}],"load_avg":[$l0,$l1],"mutated_corpus":$mut}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_decades","tiers":[${
      dirs.map("\"" + _ + "\"").mkString(",")
    }],"tiers_mut":[${
      (if (mutReady) mutDirs else Seq.empty).map("\"" + _ + "\"").mkString(",")
    }],"queries":$json,"over":[${over.map("\"" + _ + "\"").mkString(",")}],"failed":{${
      failed.mkString(",")}}}""")
    spark.stop()
  }
}
