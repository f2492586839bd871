package graft

import graft.ops.{Components, Graph, Iterate, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col

/** Physical-plan shape guards: the optimizer wins found during round-1
  * tuning, pinned so a refactor can't silently regress them (a plan
  * that stops broadcasting or starts exchanging per iteration would
  * still return correct rows — only these assertions catch it). */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("rolling median is one user-partition exchange, no extra shuffle") {
    val p = planOf("q_window_median")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("ewma computes the hourly rollup once (band self-join reuses the exchange)") {
    // r4 advice: accepting BroadcastHashJoin as an alternative proved
    // nothing — a broadcast plan can still scan + aggregate events on
    // BOTH sides. The claim is about the at-scale regime, so pin it
    // with broadcast off (the SRP-LSH precedent): the band self-join
    // sides must collapse into ONE computed exchange, i.e. events is
    // scanned once and the hourly rollup aggregated once (one
    // partial/final HashAggregate pair).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = SparkEntry.queries("q_ewma")(spark, sf0001)
      df.queryExecution.toRdd.foreach(_ => ()) // execute so AQE's final plan shows reuse
      val p = PlanCounters.finalPlan(df)
      assert(p.contains("ReusedExchange"),
        s"band self-join sides no longer reuse one exchange:\n$p")
      assert("Scan parquet".r.findAllIn(p).length == 1,
        s"events must be scanned exactly once (second side = ReusedExchange):\n$p")
    } finally spark.conf.set(key, saved)
  }

  test("seq match stays a hash band join — no nested-loop over events") {
    val p = planOf("q_seq_match")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the user-equi anchor must carry the join; residual stays a filter: $p")
  }

  test("broadcast join: dims broadcast, fact side never exchanges for the joins") {
    val p = planOf("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("BroadcastExchange".r.findAllIn(p).length == 2, p)
  }

  test("tpch regional: dims broadcast pre-filtered, date predicate pushed to the orders scan") {
    val df = SparkEntry.queries("q_tpch_regional")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    // the region filter must run INSIDE the broadcast side (5-row dim),
    // never against a fact table
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // year(o_orderdate) BETWEEN folds to a date-range pushable predicate
    // shape; at minimum it must be a filter directly over the orders scan
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.schema.fieldNames.toSet ==
        Set("o_orderkey", "o_custkey", "o_orderdate")),
      s"orders scan must be pruned to the joined + filtered columns:\n$p")
  }

  test("correlated avg decorrelates to ONE window exchange — no join, no re-scan") {
    val p = planOf("q_correlated_avg")
    assert(!p.contains("Join"), s"decorrelated plan must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"orders must be scanned exactly once:\n$p")
  }

  test("substring dedup: gram shuffle carries only (doc_id, window) — text never re-shuffles") {
    val p = planOf("q_dedup_substring")
    // one hash exchange for the per-gram window, one for the per-doc
    // rollup, one range for the output sort — nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("logistic quality gate runs entirely map-side before the output sort") {
    val p = planOf("q_quality_logistic")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("tpch priority: EXISTS plans as one left-semi hash join, date window pushed to orders") {
    val df = SparkEntry.queries("q_tpch_priority")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the orderkey equi-pair must carry the join; the 90-day bound is a residual:\n$p")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(f => f.schema.fieldNames.contains("o_orderdate") &&
        f.metadata.getOrElse("PushedFilters", "").contains("GreaterThanOrEqual")),
      s"orders date window must push to the scan:\n$p")
  }

  test("tpch returned/disjunct: heap top-20, part side pre-filtered before broadcast") {
    val ret = SparkEntry.queries("q_tpch_returned")(spark, sf0001)
    val pr = ret.queryExecution.executedPlan.toString
    assert(pr.contains("TakeOrderedAndProject"), pr)
    assert(!pr.contains("Exchange rangepartitioning"), "top-20 must never global-sort: " + pr)
    val retScans = ret.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(retScans.exists(_.metadata.getOrElse("PushedFilters", "")
        .contains("EqualTo(l_returnflag,R)")),
      s"returnflag must push to the lineitem scan:\n$pr")

    val dis = SparkEntry.queries("q_tpch_disjunct")(spark, sf0001)
    val pd = dis.queryExecution.executedPlan.toString
    assert(pd.contains("BroadcastHashJoin"), pd)
    val disScans = dis.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the union-of-branches part prefilter must reach the part scan as
    // a pushed Or — the broadcast ships only branch-eligible parts
    assert(disScans.exists(_.metadata.getOrElse("PushedFilters", "").contains("Or(")),
      s"part-side OR prefilter must push into the part scan:\n$pd")
  }

  test("tpch churn/mincost: scalar avg broadcasts, anti join carries the NOT EXISTS, parts semi-reduce the fact") {
    val ch = SparkEntry.queries("q_tpch_churn")(spark, sf0001)
    val pc = ch.queryExecution.executedPlan.toString
    assert(pc.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$pc")
    // the 1-row global average arrives via broadcast, never a per-row
    // subquery or a shuffled join
    assert(pc.contains("BroadcastNestedLoopJoin") || pc.contains("BroadcastExchange"), pc)

    val mc = SparkEntry.queries("q_tpch_mincost")(spark, sf0001)
    val pm = mc.queryExecution.executedPlan.toString
    assert(pm.contains("BroadcastHashJoin"),
      s"the size-15 part filter must broadcast into lineitem before the rollup:\n$pm")
    val scans = mc.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.metadata.getOrElse("PushedFilters", "")
        .contains("EqualTo(p_size,15)")),
      s"part size filter must push to the part scan:\n$pm")
  }

  test("tpch forecast: all three predicates push to the scan, no shuffle before the 1-row combine") {
    val df = SparkEntry.queries("q_tpch_forecast")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      s"Q6 is scan + partial agg + 1-row combine only:\n$p")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("l_discount") && pushed.contains("LessThan(l_quantity,24.0)"),
      s"discount band + quantity cap must reach the scan: $pushed")
  }

  test("tpch shipping: top-10 is TakeOrderedAndProject, both date filters reach their scans") {
    val df = SparkEntry.queries("q_tpch_shipping")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), "top-10 must never global-sort: " + p)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // orders and lineitem scans must each carry their pushed date bound
    assert(scans.count(_.metadata.getOrElse("PushedFilters", "")
      .contains("IsNotNull")) >= 2, p)
  }

  test("tpch volume: nation prune broadcasts into BOTH fact sides before their join") {
    // Q7's scale property: only the 2-nation supplier/customer key
    // slices enter the lineitem⋈orders shuffle. Pin: ≥3 broadcast
    // joins (nations→supplier, nations→customer, pruned dims→facts)
    // and the n_name IN filter never lands on a parquet fact scan.
    val df = SparkEntry.queries("q_tpch_volume")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val factFilters = scans.filter(_.tableIdentifier.isEmpty)
      .filter(s => s.schema.fieldNames.contains("l_orderkey") ||
        s.schema.fieldNames.contains("o_orderkey"))
      .map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(!factFilters.contains("n_name"),
      s"nation filter must stay on the dim side: $factFilters")
  }

  test("tpch top-supplier: the global max sits on the per-supplier rollup, not the facts") {
    // r12: the rollup is materialized ONCE (checkpoint leaf) and both
    // its consumers (max aggregate + equality filter) read the leaf —
    // the declared plan must carry NO lineitem scan at all (one fact
    // pass total, inside the rollup build), and no unpartitioned
    // window anywhere. The ship-quarter pushdown is pinned on the
    // rollup plan itself, the one that actually scans the facts.
    val roll = ops.Relational.topSupplierRollup(spark, sf0001)
    val rollScans = roll.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(rollScans.size == 1, s"rollup must scan lineitem once: $rollScans")
    assert(rollScans.head.metadata.getOrElse("PushedFilters", "")
      .contains("l_shipdate"), rollScans.head.metadata.toString)
    val df = SparkEntry.queries("q_tpch_topsupplier")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    val li = sp.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.filter(_.schema.fieldNames.contains("l_suppkey"))
    assert(li.isEmpty,
      s"declared plan must read the rollup leaf, never re-scan lineitem: $li")
    val windows = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, s"no window — max attaches by broadcast: $windows")
  }

  test("tpch small-qty: per-part threshold is one partitioned window, no re-agg self-join") {
    val df = SparkEntry.queries("q_tpch_smallqty")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    // one hash exchange on l_partkey for the window; the brand prune
    // broadcasts; no second lineitem aggregation feeding a join
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty), p)
  }

  test("events pipeline: sessionize + session rollup ride ONE user exchange") {
    // the (user, session_idx) grouping must be satisfied by the
    // window's user_id hash partitioning — a second fact-sized
    // exchange here would double the pipeline's shuffle cost at scale
    val df = SparkEntry.queries("q_pipeline_events")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    val factExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(factExchanges == 1,
      s"expected exactly one user_id exchange, got $factExchanges:\n$p")
    assert(!p.contains("Join"), s"the pipeline is windows + rollups, no join: $p")
  }

  test("cms top-k: sketch cells broadcast into the probe join, word rollup computed once") {
    val qe = SparkEntry.queries("q_cms_topk")(spark, sf0001).queryExecution
    qe.toRdd.foreach(_ => ()) // AQE final plan shows the reuse
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    // cells and the top-20 both derive from the per-word rollup; the
    // second consumer must reuse the aggregation exchange, not re-scan
    // and re-aggregate the corpus
    assert(p.contains("ReusedExchange") ||
      "Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("hll: one narrow events scan feeds the registers, no join before the 1-row combines") {
    val df = SparkEntry.queries("q_hll_distinct")(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // registers + the exact twin: at most two pruned scans of events,
    // each reading only event_id
    assert(scans.size <= 2, s"${scans.size} scans")
    scans.foreach(sc => assert(sc.schema.fieldNames.toSet == Set("event_id"),
      s"scan must prune to event_id: ${sc.schema.fieldNames.mkString(",")}"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"only broadcast 1-row combines: $p")
  }

  test("cross-corr: single events scan, no join, alignment is one conditional aggregation") {
    val df = SparkEntry.queries("q_cross_corr")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"alignment must not join two rollups: $p")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1, s"${scans.size} scans")
  }

  test("semantic dedup: the banded within-cluster self-join reuses one computed exchange") {
    // pinned on the edges SUBPLAN: the declared query's final plan
    // can't show the reuse because Components materializes the edges
    // through localCheckpoint jobs first (the q_pipeline_corpus
    // precedent)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // the at-scale regime, the SRP-LSH precedent
      val df = ops.Vectors.semanticDupEdges(ops.Vectors.semanticAssigned(spark, sf0001))
      df.queryExecution.toRdd.foreach(_ => ())
      val p = PlanCounters.finalPlan(df)
      assert(p.contains("ReusedExchange"),
        s"banded self-join sides must collapse into one computed exchange:\n$p")
      assert(!p.contains("InMemoryTableScan"), "no cached intermediates")
    } finally spark.conf.set(key, saved)
  }

  test("yoy growth: the lag window partitions by month — never a global window") {
    val sp = SparkEntry.queries("q_yoy_growth")(spark, sf0001).queryExecution.sparkPlan
    val windows = sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty), windows.mkString)
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("flagship sort is a single range-partitioned exchange") {
    val p = planOf("q_sort_export")
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("partitioned layout read prunes to the one matching directory") {
    val df = ops.Sources.layoutPartitioned(spark, sf0001)
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the plan"))
    assert(scan.partitionFilters.nonEmpty,
      s"lang predicate must be a partition filter, not a row filter: $scan")
    // the pruned listing — what the scan will actually read — is one
    // of the five lang directories (df.inputFiles would lie here: it
    // lists the relation's full index, ignoring pruning)
    val parts = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(parts.length == 1, s"expected 1 of 5 partition dirs, got ${parts.length}")
    assert(parts.head.files.nonEmpty)
  }

  test("triangle enumeration under the gate: broadcast adjacency + in-row intersection, wedges never materialize") {
    // inspect the enumeration core directly: the declared q_triangles
    // serves the session-memoized checkpoint (its own plan is a leaf +
    // sort by design), but the core the memo entry is BUILT from must
    // carry the r11 forward-algorithm shape — each oriented edge (x,y)
    // closes its triangles with one in-row array_intersect(N⁺(x),
    // N⁺(y)) fed by two BROADCAST joins attaching the adjacency
    // arrays; the O(m^1.5)-row wedge relation never materializes and
    // nothing O(m^1.5)-sized crosses an Exchange
    ops.Graph.clearMemos()
    val p = ops.Graph.triangleCounts(ops.Graph.coEdges(spark, sf0001))
      .queryExecution.executedPlan.toString
    val lines = p.linesIterator.toSeq
    val gen = lines.indexWhere(_.contains("explode(array_intersect"))
    assert(gen >= 0, s"enumeration must be an in-row array intersection:\n$p")
    val below = lines.drop(gen)
    val joins = below.filter(_.contains("Join")).take(2)
    assert(joins.size == 2 && joins.forall(_.contains("BroadcastHashJoin")),
      s"adjacency attach joins must broadcast, not shuffle: $joins\n$p")
    // the wedge stream flows through one codegen stage: no Exchange
    // between the intersection and the joins that feed it
    val firstJoin = below.indexWhere(_.contains("Join"))
    assert(!below.take(firstJoin).exists(_.contains("Exchange")),
      s"no Exchange may sit between enumeration and the adjacency joins:\n$p")
  }

  test("bloom-pruned join: might_contain filters the probe BELOW the semi join") {
    val p = planOf("q_join_bloom")
    val joinAt = p.indexOf("LeftSemi")
    val bloomAt = p.indexOf("might_contain")
    assert(joinAt >= 0 && bloomAt >= 0, p)
    // tree printing puts children after parents: the bloom filter must
    // sit under the semi join (pruning before the shuffle), not above
    assert(bloomAt > joinAt,
      s"might_contain must be below the semi join, not above it:\n$p")
  }

  test("vector pairs join is pure equi (no join-condition cosine)") {
    val p = planOf("q_vector_pairs")
    val joinLine = p.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(!joinLine.contains("aggregate("),
      s"cosine fold leaked into the join condition: $joinLine")
  }

  test("SRP-LSH candidate join is pure equi (no hyperplane dot in join condition)") {
    // the 32 SRP dots must be projected into band keys BEFORE the
    // bucket self-join; a dot fold leaking into the join condition
    // would re-evaluate per candidate pair — quadratic at scale
    val p = ops.Vectors.srpPairs(Tables.embeddings(spark, sf0001), 0.25)
      .queryExecution.executedPlan.toString
    for (joinLine <- p.linesIterator.filter(_.contains("Join")))
      assert(!joinLine.contains("aggregate("),
        s"hyperplane dot fold leaked into a join condition: $joinLine")
  }

  test("SRP-LSH reuses exchanges instead of caching: banded self-join and vector join-backs") {
    // r3 persisted the banded relation and the vector relation (and
    // leaked both into the session cache); r4 relies on ReuseExchange
    // collapsing the identical self-join sides / join-back sides into
    // one computed exchange each. The claim is about the AT-SCALE
    // regime — under broadcast (the sf0.001 plan) the sides are
    // asymmetric (stream vs broadcast-build) and reuse can only fire
    // on the join-backs — so pin it with broadcast off. If a refactor
    // breaks canonical equality of the sides, this catches the silent
    // 2x recompute of the explode pipeline.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = ops.Vectors.srpPairs(Tables.embeddings(spark, sf0001), 0.25)
      df.queryExecution.toRdd.foreach(_ => ()) // execute so AQE's final plan shows reuse
      val p = PlanCounters.finalPlan(df)
      assert("ReusedExchange".r.findAllIn(p).length >= 2,
        s"expected the banded self-join AND the vector join-backs to reuse exchanges:\n$p")
      assert(!p.contains("InMemoryTableScan"), "srpPairs must not cache anything")
    } finally spark.conf.set(key, saved)
  }

  test("SRP-LSH pairs are emitted once: no aggregate and no (va, vb) exchange, in either regime") {
    // lowest-band emission makes each candidate pair one row, so no
    // pair-dedup (an aggregate and its exchange keyed on both ids)
    // may come back; the k-means assignment is a leaf so that its own
    // aggregates stay out of the plan
    val assigned = Iterate.leaf(ops.Vectors.semanticAssigned(spark, sf0001))
    val cases = Seq[(String, () => DataFrame)](
      "srpPairs" -> (() => ops.Vectors.srpPairs(Tables.embeddings(spark, sf0001), 0.25)),
      "semanticDupEdges" -> (() => ops.Vectors.semanticDupEdges(assigned)))
    for ((what, q) <- cases; past <- Seq(false, true)) {
      def run(): SparkPlan = {
        val df = q()
        df.queryExecution.toRdd.foreach(_ => ())
        df.queryExecution.executedPlan
      }
      val plan = if (past) pastTheGate(run()) else run()
      val bad = nodesOf(plan).collect {
        case a: BaseAggregateExec => a
        case x: ShuffleExchangeLike if (x.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet == Set("va", "vb")
          case _ => false
        }) => x
      }
      assert(bad.isEmpty, s"$what (past the gate: $past): a pair-dedup aggregate or exchange:\n$plan")
    }
  }

  test("SRP band keys reach no Filter and no scan's data filters (the join-backs keep their reuse)") {
    // the lowest-band test reads the word the banded explode emits; a
    // key column computed from v beside the explode would have its
    // inferred isnotnull pushed under q_dedup_embed's groupBy(v) into
    // the scan, and the banded side's vector exchange would stop
    // matching the join-backs'
    for (past <- Seq(false, true)) {
      def run(): Seq[SparkPlan] =
        executions(ops.Vectors.dedupEmbed(spark, sf0001))._2.map(_.executedPlan)
      val nodes = (if (past) pastTheGate(run()) else run()).flatMap(nodesOf)
      assert(nodes.exists(_.isInstanceOf[GenerateExec]), "no banded explode ran")
      val bad = nodes.collect {
        case f: FilterExec if f.condition.toString.contains("srp_band_keys") => f
        case s: FileSourceScanExec if s.dataFilters.exists(_.toString.contains("srp_band_keys")) => s
      }
      assert(bad.isEmpty, s"past the gate: $past: band keys filtered:\n${bad.mkString("\n")}")
    }
  }

  test("label spreading symmetrizes its edges in one pass: one banded SRP self-join runs") {
    // a union of the two orientations plans the candidate pipeline
    // once per branch
    for (past <- Seq(false, true)) {
      def run(): Seq[SparkPlan] = executions(
        ops.Vectors.labelSpreadCore(Tables.embeddings(spark, sf0001)))._2.map(_.executedPlan)
      val selfJoins = (if (past) pastTheGate(run()) else run()).flatMap(nodesOf).collect {
        case j: BaseJoinExec if j.leftKeys.flatMap(_.references.map(_.name)).contains("bkey") => j
      }
      assert(selfJoins.length == 1, s"past the gate: $past: ${selfJoins.length} band self-joins:\n" +
        selfJoins.mkString("\n"))
    }
  }

  test("bucketed join variant: the fact-fact join itself never exchanges") {
    // unbucketed joinInner under no-broadcast pays 4 hash exchanges
    // (both sides of both joins); the bucketed twin's orders⋈lineitem
    // reads pre-bucketed sorted layout — only the customer join's two
    // exchanges remain, and the aggregate reuses the join's
    // partitioning. This is the checked form of the 100 TB
    // "pre-partitioned data" claim.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q_join_inner_bucketed")(spark, sf0001)
      df.queryExecution.toRdd.foreach(_ => ())
      // the final plan only, or the exchange count double-counts the
      // pre-adaptive plan AdaptiveSparkPlan.toString appends
      val p = PlanCounters.finalPlan(df)
      assert(p.contains("SortMergeJoin [o_orderkey") || p.contains("SortMergeJoin [l_orderkey"),
        s"fact-fact join is not the SMJ the bucketing targets:\n$p")
      assert(p.contains("Bucketed: true"), s"scan ignored the bucketed layout:\n$p")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 2,
        s"expected only the customer join's exchanges, found $exchanges:\n$p")
    } finally {
      spark.conf.set(key, saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("salted skew join shuffles on (key, salt), never broadcasts") {
    val p = planOf("q_join_skew_salted")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"),
      s"salting is pointless if the dim broadcasts — the query exists to pin the shuffled rendering: $p")
    val joinLine = p.linesIterator.find(_.contains("ShuffledHashJoin")).getOrElse("")
    assert(joinLine.contains("salt"), s"salt missing from join keys: $joinLine")
  }

  test("shared intermediates run once WITHOUT caching (reuse / window shapes)") {
    // r3 persisted these intermediates (tf, shingles, bands) and the
    // persists leaked into the session CacheManager with no owner to
    // release them. r4 restructured each to need no cache: aggregates
    // that joined back became window functions (one consumer), and
    // the ngram self-join's identical sides collapse via
    // ReuseExchange. Pin both halves of that contract.
    for (name <- Seq("q_tfidf", "q_dedup_minhash")) {
      val p = planOf(name)
      assert(!p.contains("InMemoryTableScan"),
        s"$name re-grew a cached intermediate — who unpersists it?")
      assert(p.contains("Window"), s"$name lost its single-pass window shape")
    }
    // q_dedup_ngram / q_dedup_ngram_idf materialize the verified
    // relation before the presentation sort (r12 second pass), so the
    // window / reuse / no-cache contract is pinned on the exposed
    // pre-sort subplan — the declared plan shows only leaf + sort
    // (the nearDupEdges precedent)
    for ((name, verified) <- Seq(
        "q_dedup_ngram" -> ops.Text.ngramVerified(spark, sf0001),
        "q_dedup_ngram_idf" -> ops.Text.ngramIdfVerified(spark, sf0001))) {
      val qe = verified.queryExecution
      qe.toRdd.foreach(_ => ()) // execute so AQE's final plan shows reuse
      val p = qe.executedPlan.toString
      assert(!p.contains("InMemoryTableScan"),
        s"$name re-grew a cached intermediate — who unpersists it?")
      assert(p.contains("Window"), s"$name lost its single-pass window shape:\n$p")
      assert(p.contains("ReusedExchange"),
        s"$name self-join sides no longer reuse one exchange (silent 2x tokenize):\n$p")
    }
  }

  test("pipeline flagship: banded self-join reuses one exchange, nothing cached, packing window partitioned") {
    // the composed chunk→embed→prune→pack chain must inherit the
    // component operators' plan shapes: the LSH bucket self-join
    // computes the chunk→vector→band pipeline ONCE (ReuseExchange, the
    // SRP-LSH precedent — pinned broadcast-off since that's the
    // at-scale regime), nothing leaks into the session cache, and the
    // packing window is source-partitioned (never the single-task
    // global window)
    // the LSH stage executes inside the Components loop (its edges are
    // checkpointed before pointer jumping), so the reuse must be pinned
    // on the edges subplan — the final query plan never contains it
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = ops.Pipeline.nearDupEdges(Tables.documents(spark, sf0001))
      df.queryExecution.toRdd.foreach(_ => ())
      val p = PlanCounters.finalPlan(df)
      assert("ReusedExchange".r.findAllIn(p).length >= 2,
        s"expected the banded self-join AND the vector join-backs to reuse exchanges:\n$p")
      assert(!p.contains("InMemoryTableScan"), "LSH stage must not cache anything")
    } finally spark.conf.set(key, saved)
    val full = SparkEntry.queries("q_pipeline_corpus")(spark, sf0001).queryExecution
    full.toRdd.foreach(_ => ())
    assert(!full.executedPlan.toString.contains("InMemoryTableScan"),
      "pipeline must not cache anything")
    val sp = SparkEntry.queries("q_pipeline_corpus")(spark, sf0001).queryExecution.sparkPlan
    val windows = sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"packing window must partition by source: $windows")
  }

  test("unpartitioned windows only ever sit on bounded post-aggregation relations") {
    // r4 verdict task 2: several queries legitimately use
    // Window.partitionBy() — global rank over chi-square cells, skew
    // profile moments, dof windows — all on ≤|lang|·|source|-row
    // POST-AGGREGATION relations, where a single task is the right
    // plan. Nothing proved that invariant: an edit moving one onto a
    // fact table would pass every sf0.1 oracle and become a
    // single-task scale-killer at 100 TB. Gate: every WindowExec with
    // an empty partition spec must have an aggregation (or an
    // explicitly bounded local relation) somewhere below it — i.e. the
    // fact-table volume was reduced BEFORE the unpartitioned window.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec}
    def boundedBelow(p: SparkPlan): Boolean = p.collectFirst {
      case _: BaseAggregateExec => true
      case _: LocalTableScanExec => true
      case _: RDDScanExec => true
    }.isDefined
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sf0001).queryExecution.sparkPlan
      plan.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty && !boundedBelow(w.child) =>
          offenders += s"$name: unpartitioned window over an unaggregated input\n$w"
        case _ => ()
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
  }

  test("no cartesian products outside the bounded cross join") {
    for (name <- SparkEntry.queries.keys if name != "q_join_cross") {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("filter pushdown reaches the parquet scan") {
    val p = planOf("q_filter_predicates")
    assert(p.contains("PushedFilters: [") &&
      p.contains("GreaterThanOrEqual(o_totalprice"), p)
  }

  test("column pruning: join reads only referenced lineitem columns") {
    val p = planOf("q_join_inner")
    val scan = p.linesIterator.find(l => l.contains("lineitem.parquet")).get
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"), scan)
  }

  test("pii redaction plans zero hash exchanges (pure per-row regex pass)") {
    // the stage that touches every byte of a 100 TB corpus must stay
    // narrow: only the presentation sort's range exchange is allowed
    val p = planOf("q_pii_redact")
    assert(!p.contains("Exchange hashpartitioning"),
      s"redaction must not shuffle: $p")
  }

  test("scd2's three window passes reuse one (user_id) exchange") {
    val p = planOf("q_scd2")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"the lag/run-sum/lead stack must share a single user_id shuffle: $p")
  }

  test("skyline is one tie-collapse aggregation plus one window sort, never a self-join") {
    val p = planOf("q_skyline")
    assert(!p.contains("Join"), s"skyline must not plan any join: $p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p)
  }

  test("tpch partvalue: the global total reuses the per-part rollup exchange — one scan set") {
    val df = SparkEntry.queries("q_tpch_partvalue")(spark, sf0001)
    df.queryExecution.toRdd.foreach(_ => ()) // execute so AQE's final plan shows reuse
    val p = PlanCounters.finalPlan(df)
    assert(p.contains("ReusedExchange"),
      s"the total must be an agg-over-agg of the SAME rollup subplan:\n$p")
    // lineitem + supplier + nation scanned once each; without reuse the
    // total's subplan would re-scan all three (6 scans)
    assert("Scan parquet".r.findAllIn(p).length == 3,
      s"the fact must not be scanned twice for the total:\n$p")
  }

  test("seasonal anomaly: bounded cell stats broadcast back — no sort-merge over the fact") {
    val p = planOf("q_seasonal_anom")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the ≤ types·24-row cell dim must broadcast, never shuffle the fact for a merge join: $p")
  }

  test("naive bayes: model and priors broadcast — scoring never sort-merges token volume") {
    val p = planOf("q_naive_bayes")
    assert(!p.contains("SortMergeJoin"),
      s"the |V|·k model joins back as a broadcast under the dim gate: $p")
  }

  /** Every node of an executed plan, the final adaptive plan's query
    * stages and reused exchanges included. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }).flatMap(nodesOf)

  /** Whether `p` computes rows of the leaf whose columns are `cols`
    * alone: a chain of one-input operators down to its scan. */
  private def overLeaf(cols: Set[String])(p: SparkPlan): Boolean = p match {
    case s: RDDScanExec => s.output.map(_.name).toSet == cols
    case _: Exchange | _: QueryStageExec => false
    case a: AdaptiveSparkPlanExec => overLeaf(cols)(a.executedPlan)
    case _ => p.children match {
      case Seq(c) => overLeaf(cols)(c)
      case _ => false
    }
  }

  test("past the gate no loop round exchanges the loop's laid-out invariant leaf") {
    val star = PageRank.starEdges(spark, sf0001)
    val directed = PageRank.starEdgesDirected(spark, sf0001)
    val co = Graph.coEdges(spark, sf0001)
    // each loop with the columns of its invariant leaves
    val cases = Seq[(String, Seq[Set[String]], () => DataFrame)](
      ("pagerank", Seq(Set("src", "dst", "deg")), () => PageRank.run(star, 10)),
      ("teleport pagerank", Seq(Set("src", "dst", "deg"), Set("node", "out")),
        () => PageRank.runTextbook(directed, 10)),
      ("hits", Seq(Set("src", "dst")), () => Graph.hitsCore(directed, 8)),
      ("connected components", Seq(Set("a", "b")), () => Components.connectedComponents(
        co.select(col("u").as("src"), col("v").as("dst")))),
      ("bfs", Seq(Set("a", "b")), () => Graph.bfs(co, Graph.BfsSource)))
    for ((what, leaves, q) <- cases; plans = pastTheGate(executions(q())._2).map(_.executedPlan);
        cols <- leaves) {
      val scans = plans.flatMap(nodesOf).collect {
        case s: RDDScanExec if overLeaf(cols)(s) => s.outputPartitioning
      }
      assert(scans.exists(_.isInstanceOf[HashPartitioning]),
        s"$what: no round reads a laid-out ${cols.mkString(",")} leaf: $scans")
      for (p <- plans) {
        // one the planner adds to meet a join's or aggregate's
        // distribution (not a layout the loop asks for), and by hash:
        // a global aggregate's single-partition exchange of partial
        // sums moves no layout
        val exchanges = nodesOf(p).collect {
          case x: ShuffleExchangeLike if x.shuffleOrigin == ENSURE_REQUIREMENTS &&
              x.outputPartitioning.isInstanceOf[HashPartitioning] && overLeaf(cols)(x.child) => x
        }
        assert(exchanges.isEmpty, s"$what: a round re-exchanges its ${cols.mkString(",")} leaf:\n$p")
      }
    }
  }
}
