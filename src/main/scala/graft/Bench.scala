package graft

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Queries execute through the `noop` sink ([[Harness.runNoop]]).
  *
  * Scaling evidence: after the primary suite, the same queries run
  * once more against a smaller sibling scale factor (sf0.1 → sf0.01)
  * and the line carries both totals plus per-query time ratios — the
  * measured answer to "does this plan's cost grow worse than the
  * data?". Queries whose ratio exceeds the SF ratio (with headroom
  * for noise) are listed under `superlinear`. Fixed per-query job
  * overhead (~0.1 s) deflates ratios, so a flagged query is genuinely
  * growing faster than its input. Disable with
  * SPARK_GRAFT_SCALE_CHECK=0 (dev loops); SPARK_GRAFT_SF_SMALL
  * overrides the sibling dir.
  *
  * Load-robustness (r3 postmortem): the two suites run minutes apart,
  * and same-query timings on a shared box swing far more than the
  * slope headroom — BENCH_r03 flagged 6 queries at slopes 14-36 that
  * re-measured at 1.5-2.9 under clean load, an artifact that
  * contradicted the survey and would have sent a round chasing
  * phantom scale bugs. Three guards now stand between noise and the
  * `superlinear` list: (1) sub-second queries at the big SF are never
  * flagged (noise dominates them — `candidates` still records them
  * for the curious); (2) every over-threshold query is re-measured
  * PAIRED — small and big SF back-to-back in one load window — and
  * only a reproduced slope flags; (3) the 1-min load average is
  * recorded per suite and per re-check, so a hot box is visible in
  * the artifact itself. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // iterative queries launch 10+ driver-coordinated jobs; one warmup
    // leaves JIT/codegen cold for the later iterations' plan shapes, so
    // they get a second untimed pass (judge round 1: q_pagerank measured
    // 14.1 s driver-side vs ~5 s steady state)
    val iterative = Set("q_pagerank", "q_pagerank_textbook", "q_pagerank_snap",
      "q_dedup_minhash_cc", "q_dedup_minhash_cc_portable", "q_dedup_embed")
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (dev loop: time the
    // queries under tuning without paying for the other 70)
    val selected = Harness.select()
    val restricted = selected.size < SparkEntry.queries.size
    // Load-robustness at the ARTIFACT level (r5 verdict task 6): the
    // r5 driver record (252 s, load 3.2→3.6) vs the same suite under
    // clean load (189 s) differed ~30% purely by co-tenant noise, and
    // every per-query figure was a single sample. Queries whose first
    // sample is ≥1 s now record the MIN of two runs — min, not mean,
    // because scheduler noise is strictly additive (the fastest
    // observation is the closest to the query's true cost). Sub-second
    // queries keep one sample: their noise band is job-overhead-sized
    // and a second run would double suite time for digits that don't
    // matter. Disable with SPARK_GRAFT_MIN_OF=1 (dev loops).
    val minOf = sys.env.getOrElse("SPARK_GRAFT_MIN_OF", "2").toInt
    val MinRepeatSecs = 1.0
    def timed(name: String, fn: Harness.Query, dir: String): Double = {
      val first = Harness.timedOnce(spark, "bench", name, fn, dir)
      if (minOf < 2 || first < MinRepeatSecs) first
      else (2 to minOf).foldLeft(first) { (best, _) =>
        math.min(best, Harness.timedOnce(spark, "bench", name, fn, dir)) // true min-of-N (r6 ADVICE: was min-of-2 for any N)
      }
    }

    /** One full pass; returns timings plus the suite's own load-average
      * window (1-min load sampled at start and end — the r3 artifact
      * recorded a single global load that hid the fact the two suites
      * ran under very different box conditions). */
    def runSuite(dir: String): (Seq[(String, Double)], Double, Double) = {
      val l0 = Harness.loadAvg
      val rs = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val warmups = if (iterative(name)) 2 else 1
        (1 to warmups).foreach(_ => Harness.runNoop(spark, "bench", name, fn, dir)) // untimed: JIT/codegen/scan-index
        (name, timed(name, fn, dir))
      }
      (rs, l0, Harness.loadAvg)
    }

    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    val (results, loadMain0, loadMain1) = runSuite(sfDir)
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum

    // ---- scaling pass on the smaller sibling SF ----
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL",
      sfDir.replace("sf0.1", "sf0.01"))
    val scaleCheckOn = sys.env.getOrElse("SPARK_GRAFT_SCALE_CHECK", "1") != "0" &&
      smallDir != sfDir && new java.io.File(smallDir).isDirectory
    // the scaling pass's headline numbers, re-printed in the terminal
    // summary (r4 verdict task 1: the driver preserves only a
    // 2,000-char TAIL of stdout, and with totals printed first the
    // official BENCH_r03/r04 records lost theirs)
    var summarySmallTotal = -1.0
    var summaryOver = Seq.empty[String]
    var summarySuperlinear = Seq.empty[String]
    val scaleJson = if (!scaleCheckOn) "" else {
      val (small, loadSmall0, loadSmall1) = runSuite(smallDir)
      val smallTotal = small.map(_._2).filter(_ >= 0).sum
      val smallMap = small.toMap
      val ratios = results.flatMap { case (k, v) =>
        smallMap.get(k).collect {
          case s if s > 0 && v > 0 => k -> v / s
        }
      }
      // sf0.1 holds ~10x the rows of sf0.01 (per-table growth varies
      // 4-10x), so the default decade gate applies
      // noise gate: a query that finishes the BIG suite under a second
      // is dominated by fixed job overhead and scheduler jitter — a
      // slope computed from two sub-second samples says nothing about
      // its asymptotics (every r3 false flag was in this band)
      val MinFlagSecs = 1.0
      val over = ratios.collect { case (k, r) if r > Harness.SlopeMax => k }
      val candidates = over.filter(k => results.toMap.getOrElse(k, 0.0) >= MinFlagSecs)
      // paired re-measurement: small then big back-to-back, one load
      // window per query — only a slope that REPRODUCES flags. Both
      // plans are JIT-warm from the suites, so one timed run each side
      // is a like-for-like pair.
      val rechecks = candidates.map { k =>
        val fn = selected(k)
        val s2 = timed(k, fn, smallDir)
        val b2 = timed(k, fn, sfDir)
        val slope2 = if (s2 > 0 && b2 > 0) b2 / s2 else -1.0
        (k, s2, b2, slope2)
      }
      val confirmed = rechecks.collect { case (k, _, _, r2) if r2 > Harness.SlopeMax => "\"" + k + "\"" }
      summarySmallTotal = smallTotal
      summaryOver = over.map("\"" + _ + "\"")
      summarySuperlinear = confirmed
      val recheckJson = rechecks.map { case (k, s2, b2, r2) =>
        "\"" + k + "\":{\"small\":" + s2 + ",\"big\":" + b2 + ",\"slope\":" +
          math.round(r2 * 100) / 100.0 + ",\"load_avg\":" + Harness.loadAvg + "}"
      }.mkString("{", ",", "}")
      val slopes = ratios.map { case (k, r) => "\"" + k + "\":" + math.round(r * 100) / 100.0 }
        .mkString("{", ",", "}")
      val overJson = over.map("\"" + _ + "\"").mkString(",")
      s""","scale_check":{"sf_small":"$smallDir","total_small":$smallTotal,""" +
        s""""load_avg_small":[$loadSmall0,$loadSmall1],""" +
        s""""queries_small":${jsonMap(small)},"slope_vs_small":$slopes,""" +
        s""""over_threshold":[$overJson],"recheck":$recheckJson,""" +
        s""""superlinear":[${confirmed.mkString(",")}]}"""
    }

    // ---- 10× scale-up pass on the synthesized sf1 sibling ----
    // (r5 verdict task 3) every slope above is sf_small→sf_main, where
    // the big side runs 0.3–10 s and fixed job overhead still flatters
    // sub-linear shapes; this section runs every HEAVY query (≥2 s in
    // the main suite) against the ScaleUp-generated sf1 directory
    // (10× rows, per-shard-consistent keys — run `sbt "runMain
    // graft.ScaleUp"` once to create it) and records main→big slopes.
    // Measurement discipline (r6 postmortem): the r6 tier took SINGLE
    // samples in one loaded 37-min window and its artifact flagged 8
    // queries at slopes 13–104 that clean re-measurement put at 2–15 —
    // a record that contradicted the README. The tier now gets the
    // same three guards as the main suite: (1) min-of-2 per query
    // (all heavies clear the 1 s repeat floor at sf1); (2) every
    // over-budget slope is re-measured PAIRED (main and big back to
    // back in one load window) and only a reproduced slope lands in
    // `superlinear`; (3) the load-average window brackets the pass in
    // the artifact. Skipped when the directory is absent; disable
    // with SPARK_GRAFT_SCALE_UP=0.
    //
    // Per-family slope budgets (r6 verdict task 5): a single global
    // gate can't distinguish "plan broke" from "output legitimately
    // grows faster than rows" — the wedge family is documented
    // O(m^1.5) (10× edges → ≤31.6×) and the pair-LISTING dedup
    // queries emit O(c²) pairs per exact-clone group of size c (the
    // ScaleUp corpus clones every doc c=10×, so their OUTPUT grows
    // ~45–100× by construction while everything upstream is linear).
    // Budgets live in src/main/resources/scale_budgets.tsv — one row
    // per query whose documented cost model exceeds the default gate,
    // with the model named; a flag therefore always means "broke the
    // design contract", never "the family works as documented".
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/repo/scale_data/sf1")
    val scaleUpOn = sys.env.getOrElse("SPARK_GRAFT_SCALE_UP", "1") != "0" &&
      !restricted && new java.io.File(bigDir).isDirectory
    // The sf1 tier adds ~8 min of wall clock. The harness preserves a
    // TAIL of stdout, so a partial-result line printed HERE is the
    // artifact of record if anything downstream is killed by a
    // supervisor timeout — the final full line below supersedes it in
    // the tail whenever the run completes (marked "partial" so the
    // two are distinguishable).
    if (scaleUpOn) {
      // headline numbers LAST on the line (the tail-truncation rule
      // the final line's summary follows)
      println(s"""{"metric":"total","value":$total,"unit":"sec","partial":true,"queries":${jsonMap(results)}$scaleJson,"summary":{"total":$total,"total_small":$summarySmallTotal,"n_queries":${results.size},"failed":[${failed.mkString(",")}],"over_threshold":[${summaryOver.mkString(",")}],"superlinear":[${summarySuperlinear.mkString(",")}],"scale_up":"pending","load_avg":[$loadMain0,$loadMain1],"sf":"$sfDir"}}""")
    }
    var summaryBig = "null"
    val scaleUpJson = if (!scaleUpOn) "" else {
      val HeavySecs = 2.0
      val heavies = results.filter { case (_, t) => t >= HeavySecs }.map(_._1)
      // The pair-LISTING dedup family measures against the MUTATED
      // clone sibling (r10 verdict task 2): on the verbatim-clone sf1
      // every clone pair is a true pair, so the slope prices the
      // generator (~45), not the algorithm; the mutated corpus holds
      // near-dup density constant and the re-derived budgets gate the
      // algorithm. Missing mutated dir → loud exclusion, never a
      // silent one (and never a false 45× measurement).
      val mutBigDir = sys.env.getOrElse("SPARK_GRAFT_SF_BIG_MUT",
        "/root/repo/scale_data/sf1mut")
      val mutQs = ScaleDecades.MutatedBothDecades.toSet
      val mutReady = new java.io.File(mutBigDir).isDirectory
      val (runnable, mutSkipped) = heavies.partition(k => !mutQs(k) || mutReady)
      if (mutSkipped.nonEmpty)
        System.err.println(s"[bench] scale_up EXCLUDED ${mutSkipped.mkString(",")}: " +
          s"mutated corpus dir missing ($mutBigDir) — generate with: " +
          "runMain graft.ScaleUp /root/testdata/sf0.1 " + mutBigDir + " 10 --mutate-docs")
      def bigDirOf(k: String): String = if (mutQs(k)) mutBigDir else bigDir
      val l0 = Harness.loadAvg
      val big = runnable.map { k => k -> timed(k, selected(k), bigDirOf(k)) }
      val slopes = big.flatMap { case (k, t) =>
        results.toMap.get(k).collect { case s if s > 0 && t > 0 => k -> t / s }
      }
      val overRaw = slopes.collect { case (k, r) if r > Harness.slopeBudget(k, 0) => k }
      // paired recheck — main then big back to back, one load window
      // per query; only a slope that REPRODUCES over its budget flags
      val rechecks = overRaw.map { k =>
        val m2 = Harness.timedOnce(spark, "bench", k, selected(k), sfDir)
        val b2 = Harness.timedOnce(spark, "bench", k, selected(k), bigDirOf(k))
        (k, m2, b2, if (m2 > 0 && b2 > 0) b2 / m2 else -1.0)
      }
      val confirmed = rechecks.collect { case (k, _, _, r2) if r2 > Harness.slopeBudget(k, 0) => "\"" + k + "\"" }
      val bigTotal = big.map(_._2).filter(_ >= 0).sum
      summaryBig = s"""{"total_big":$bigTotal,"n_heavy":${big.size},""" +
        s""""over":[${overRaw.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""superlinear":[${confirmed.mkString(",")}]}"""
      val slopeJson = slopes.map { case (k, r) =>
        "\"" + k + "\":" + math.round(r * 100) / 100.0 }.mkString("{", ",", "}")
      val budgetJson = slopes.map { case (k, _) =>
        "\"" + k + "\":" + Harness.slopeBudget(k, 0) }.mkString("{", ",", "}")
      val recheckJson = rechecks.map { case (k, m2, b2, r2) =>
        "\"" + k + "\":{\"main\":" + m2 + ",\"big\":" + b2 + ",\"slope\":" +
          math.round(r2 * 100) / 100.0 + ",\"load_avg\":" + Harness.loadAvg + "}"
      }.mkString("{", ",", "}")
      s""","scale_up":{"sf_big":"$bigDir","heavy_threshold_secs":$HeavySecs,""" +
        s""""sf_big_mut":${if (mutReady) "\"" + mutBigDir + "\"" else "null"},""" +
        s""""mut_queries":[${runnable.filter(mutQs).map("\"" + _ + "\"").mkString(",")}],""" +
        s""""mut_excluded":[${mutSkipped.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""total_big":$bigTotal,"load_avg_big":[$l0,${Harness.loadAvg}],""" +
        s""""queries_big":${jsonMap(big)},"slope_vs_main":$slopeJson,""" +
        s""""slope_budget":$budgetJson,""" +
        s""""over_threshold":[${overRaw.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""recheck":$recheckJson,""" +
        s""""superlinear":[${confirmed.mkString(",")}]}"""
    }

    // ---- the reference's partition-sweep experiment (C1, task2) ----
    // time-vs-numPartitions for the PageRank loop at this SF, the one
    // reference experiment whose report didn't survive; skipped in
    // restricted dev loops (SPARK_GRAFT_ONLY) or with SPARK_GRAFT_SWEEP=0
    val sweepOn = sys.env.getOrElse("SPARK_GRAFT_SWEEP", "1") != "0" && !restricted
    val sweepJson = if (!sweepOn) "" else {
      val ns = Seq(10, 50, 100, 200, 300) // task2/task2.sh:4-5's grid
      // min-of-2 per grid point (r6 postmortem: the single-sample r6
      // sweep drowned the knee-at-50 shape — the reference's task2
      // result, reproduced by every earlier round — in co-tenant noise)
      def sweepOnce(n: Int): Double = {
        val t0 = System.nanoTime()
        ops.PageRank.run(ops.PageRank.starEdges(spark, sfDir), 10, numPartitions = n)
          .write.format("noop").mode("overwrite").save()
        // eager block release: 10 sweep points × a 10-iteration loop
        // otherwise stack GC-owned checkpoint blocks
        Harness.reset(spark)
        (System.nanoTime() - t0) / 1e9
      }
      // one UNTIMED execution before the grid: the r7 clean-run4
      // artifact recorded n=10 at 31.9 s vs 1.9 s clean because BOTH
      // min-of-2 samples of the first grid point paid PageRank's JIT
      // warm-up — the sweep query must be hot before any timed point
      sweepOnce(ns.head)
      // TWO INTERLEAVED full grid passes, min per point ACROSS passes
      // (r8 postmortem: back-to-back min-of-2 let ONE co-tenant window
      // poison both samples of n=200 — 24.9 s vs 8.1 s everywhere
      // else, the second round shipping a wart in the banner
      // artifact). A noise window now has to span the whole grid
      // twice to corrupt a point. Belt-and-braces: any INTERIOR point
      // whose min still exceeds BOTH neighbors by >2x gets one
      // targeted re-sample (a real knee is monotone-ish; a spike
      // isn't). Edge points are excluded (r9 ADVICE): with only one
      // neighbor the test degenerates to a single-neighbor check, so a
      // genuine monotone >2x knee at the grid edge would burn the
      // extra sweep every run — a spike needs two neighbors to be a
      // spike.
      val pass1 = ns.map(n => n -> sweepOnce(n)).toMap
      val pass2 = ns.map(n => n -> sweepOnce(n)).toMap
      val mins = scala.collection.mutable.Map(
        ns.map(n => n -> math.min(pass1(n), pass2(n))): _*)
      for (i <- 1 until ns.size - 1) {
        val n = ns(i)
        val nbrs = Seq(mins(ns(i - 1)), mins(ns(i + 1)))
        if (nbrs.forall(v => mins(n) > 2 * v))
          mins(n) = math.min(mins(n), sweepOnce(n))
      }
      // edge points get no targeted re-sample (one neighbor can't
      // distinguish a spike from a real knee — r9 ADVICE), so a
      // >2x-over-neighbor edge min is at least MARKED in the artifact
      // (r10 ADVICE) rather than reading as a clean measurement
      val edgeSuspects = Seq(0, ns.size - 1).collect {
        case i if mins(ns(i)) > 2 * mins(ns(if (i == 0) 1 else ns.size - 2)) => ns(i)
      }
      ns.map { n => "\"" + n + "\":" + mins(n) }
        .mkString(""","partition_sweep":{""", ",", "}") +
        s""","partition_sweep_edge_suspects":[${edgeSuspects.mkString(",")}]"""
    }

    // "load_avg" stays a scalar (driver-parsed shape from earlier
    // rounds); the [start, end] window is the per-suite record.
    // "summary" sits LAST on the line so the headline numbers survive
    // the driver's 2,000-char stdout-tail truncation — BENCH_r03/r04
    // lost their totals because they led the (>4 KB) line. Duplicated
    // data, by design: the full per-query maps above stay the primary
    // record when the artifact is intact.
    val summary = s""""summary":{"total":$total,"total_small":$summarySmallTotal,""" +
      s""""n_queries":${results.size},"failed":[${failed.mkString(",")}],""" +
      s""""over_threshold":[${summaryOver.mkString(",")}],""" +
      s""""superlinear":[${summarySuperlinear.mkString(",")}],""" +
      s""""scale_up":$summaryBig,""" +
      s""""load_avg":[$loadMain0,$loadMain1],"sf":"$sfDir"}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonMap(results)},"failed":[${failed.mkString(",")}],"load_avg":$loadMain1,"load_avg_main":[$loadMain0,$loadMain1],"sf":"$sfDir"$scaleJson$scaleUpJson$sweepJson,$summary}""")
    spark.stop()
  }
}
