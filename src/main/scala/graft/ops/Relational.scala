package graft.ops

import graft.Tables
import graft.functions.PortableStringHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational core: scan → filter → project → join → aggregate → sort.
  *
  * Covers SURVEY.md §2.1–§2.4, §2.6–§2.7. The reference exercises this
  * shape in `assignment1/part2/task.py:22-26` (CSV scan → global
  * multi-column sort → write); the engine re-expresses it over the
  * harness star schema with Catalyst doing pushdown/pruning/strategy
  * selection — nothing here drops to RDDs.
  *
  * Determinism contract (oracle parity with DuckDB): every query ends
  * in an `orderBy` over a unique key set, double aggregates are
  * rounded (coarse precision on large sums so cross-engine summation
  * order can't straddle a rounding boundary), and sums over integer
  * columns are cast explicitly (DuckDB widens integer SUM to HUGEINT).
  */
object Relational {

  /** Flagship — the reference's global multi-column sort
    * (`assignment1/part2/task.py:24`: orderBy(cca2, timestamp)) over
    * `events(user_id, ts)`. Catalyst plans a range-partitioned total
    * sort (sampling → RangePartitioning → per-partition SortExec), so
    * at 100 TB this is one shuffle with no driver bottleneck; output
    * files are globally ordered. `event_id` breaks ties so row order
    * is total. */
  def sortExport(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .orderBy(col("user_id").asc, col("ts").asc, col("event_id").asc)

  /** Rich predicate set (SURVEY P5): =, <>, BETWEEN, IN, LIKE,
    * AND/OR/NOT, CASE WHEN, coalesce/nullif/greatest/least. All pure
    * Column expressions → pushed into the parquet scan where
    * deterministic (BETWEEN/IN), folded otherwise. */
  def filterPredicates(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(
        col("o_totalprice").between(1000.0, 400000.0) &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM") &&
        !(col("o_orderstatus") === "X") &&
        (col("o_orderpriority").like("%URGENT%") || col("o_totalprice") < 150000.0))
      .select(
        col("o_orderkey"),
        col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("price"),
        when(col("o_totalprice") > 200000.0, "big")
          .when(col("o_totalprice") > 50000.0, "mid")
          .otherwise("small").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_or_open"),
        round(greatest(col("o_totalprice"), lit(100000.0)), 2).as("floored"),
        round(least(col("o_totalprice"), lit(100000.0)), 2).as("capped"))
      .orderBy(col("o_orderkey"))

  /** TPC-H Q1-shaped full-agg suite (SURVEY A5): count/sum/avg/min/max
    * with partial (map-side) aggregation — the DataFrame rendering of
    * the reference's `reduceByKey` combiner semantics
    * (`assignment1/part3/task1/task1.py:52`). Two-column group key of
    * tiny cardinality → the shuffle moves only partial aggregates.
    *
    * Exact-money quantization (r8, the q_tpch_promo class audited at
    * mass): a Q1 group at sf1 sums to ~5×10¹⁰ where double ULP is
    * ~8×10⁻⁶ — accumulation-order noise of a few ULPs against a 10⁻⁴
    * rounding grid makes the d4 round a latent coin flip at every new
    * SF (the r7 promo break was one such flip landing). All money
    * columns therefore quantize per LINE to exact integer grid units
    * (prices/discounts are 2-decimal → the per-row round is
    * deterministic on both engines) and sum LONGS exactly; quantities
    * are integral so their double sums were already exact. */
  def aggBasic(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("price_e2"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev_e4"),
        round(col("l_discount") * 100).cast("long").as("disc_e2"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        sum(col("price_e2")).as("price_e2"),
        sum(col("rev_e4")).as("rev_e4"),
        sum(col("disc_e2")).as("disc_e2"),
        round(min(col("l_quantity")), 2).as("min_qty"),
        round(max(col("l_quantity")), 2).as("max_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
        col("sum_qty"),
        round(col("price_e2") / 100.0, 2).as("sum_price"),
        round(col("rev_e4") / 10000.0, 4).as("sum_disc_price"),
        (round(col("disc_e2") / 100.0, 2) / col("n_rows")).as("avg_disc"),
        col("min_qty"), col("max_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Exact multi-column COUNT DISTINCT (SURVEY A5). Spark expands
    * this to a single-pass expand+agg; at scale the alternative is
    * approx_count_distinct (HLL) — kept out of the oracle query since
    * sketch estimates are engine-specific. */
  def aggDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** FK-chain inner equi-join (SURVEY J2): customer ⋈ orders ⋈
    * lineitem, revenue per customer. Both joins shuffle on their key
    * (sort-merge/shuffled-hash chosen by Catalyst+AQE); aggregation is
    * partial→final. No broadcast hint — all sides scale with SF. */
  def joinInner(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_custkey", "c_name")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "inner")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"), "inner")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("c_custkey"))

  /** Bucketed-layout twin of [[joinInner]] (§2.13, r3 verdict task
    * #8): orders and lineitem are materialized ONCE as tables
    * bucketed AND sorted by the join key, so the fact-fact join plans
    * as a sort-merge join with NO shuffle exchange on either side —
    * the pre-partitioned layout that makes repeated 100 TB fact-fact
    * joins affordable (the one-time layout cost amortizes across
    * every downstream join on that key, and the per-bucket sort
    * even skips the SMJ's local sort). Join order differs from
    * [[joinInner]] (fact-fact first, then customer) but inner joins
    * commute, so the SAME oracle checks both. The layout step is
    * idempotent per (session, dataset) — Bench's warmup+timed
    * replays reuse it — and lands in a pid-keyed scratch warehouse.
    * PlanSpec pins the exchange count under the no-broadcast regime. */
  def joinInnerBucketed(s: SparkSession, d: String): DataFrame = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_${ProcessHandle.current().pid()}"
    val tag = java.lang.Integer.toHexString(d.hashCode)
    val (ot, lt) = (s"b_orders_$tag", s"b_lineitem_$tag")
    if (!s.catalog.tableExists(ot))
      Tables.orders(s, d).select("o_orderkey", "o_custkey").write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/$ot").mode("overwrite").saveAsTable(ot)
    if (!s.catalog.tableExists(lt))
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount").write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/$lt").mode("overwrite").saveAsTable(lt)
    s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("c_custkey"))
  }

  /** Broadcast join of small dims (SURVEY J3): region and nation are
    * O(10²) rows at any SF — explicit `broadcast()` hints pin
    * BroadcastHashJoin so the fact side never shuffles for the dims. */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal")
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_cust"),
        round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("r_name"), col("n_name"))

  /** TPC-H Q5-shaped regional supplier volume (SURVEY J2/J3 composed
    * at full width): customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation
    * ⋈ region, revenue per nation for one region and a 2-year order
    * window, with the Q5 locality clause `c_nationkey = s_nationkey`
    * riding the supplier join. The classic mixed-strategy plan: the
    * three fact joins shuffle on their FK (AQE picks SMJ/SHJ), the
    * O(10²)-row nation⋈region dim — pre-filtered to the target region
    * BEFORE touching any fact — is explicitly broadcast, and the date
    * predicate folds to a pushed filter on the orders scan so at 100 TB
    * only the 2-year slice of orders (and nothing of the other years)
    * ever enters a shuffle. 5-row result. */
  def tpchRegional(s: SparkSession, d: String): DataFrame = {
    val asiaNations = Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey"), col("n_name"))
    Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(Tables.orders(s, d)
          .filter(year(col("o_orderdate")).between(1996, 1997))
          .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      // exact-money: per-line 10⁻⁴-unit longs, summed exactly (the r8
      // promo-class audit — per-nation revenue mass reaches the coin-
      // flip regime by sf10; see aggBasic)
      .select(col("n_name"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev_e4"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_e4")).as("rev_e4"), count(lit(1)).as("n_items"))
      .select(col("n_name"), round(col("rev_e4") / 10000.0, 4).as("revenue"),
        col("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Decorrelated correlated subquery (SURVEY §2.4/§4): "orders whose
    * price exceeds 1.2× their customer's average order" — the textbook
    * correlated-scalar-subquery shape. The oracle SQL states it
    * correlated (DuckDB decorrelates internally); the engine plans the
    * decorrelated form directly as ONE window over `o_custkey` — a
    * single hash-partitioned shuffle of orders, no join, no
    * re-aggregation, no per-row subquery. At 100 TB that is the only
    * correct shape: the naive correlated plan is O(n) subqueries. */
  def correlatedAvg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Window.partitionBy(col("o_custkey"))
    // the average is fixed-point end-to-end: EXACT decimal(18,2) sum →
    // integer cents → floor-divided 1e-4 units → /10⁴. Double summation
    // is accumulation-order-dependent (observed: 23 divergent cells at
    // sf0.01), and even an exact sum lands round(·,4) on .xxxx5 ties
    // that Spark (BigDecimal HALF_UP) and DuckDB (double rounding)
    // break differently (observed: 10 cells) — floor over exact
    // integers has no ties to break.
    Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      .withColumn("cust_cents",
        (sum(col("o_totalprice").cast("decimal(18,2)")).over(perCust) * 100)
          .cast("long"))
      .withColumn("n_cust_orders", count(lit(1)).over(perCust))
      .withColumn("cust_avg",
        expr("(cust_cents * 100) div n_cust_orders") / lit(10000.0))
      .filter(col("o_totalprice") > lit(1.2) * col("cust_avg"))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"),
        col("cust_avg"),
        col("n_cust_orders"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H Q4-shaped order-priority check (r5 wave 16): per-priority
    * count of orders in a half-year window with at least one lineitem
    * shipped more than 90 days after the order date. The EXISTS
    * renders as ONE left-semi join: the date window prunes orders at
    * the scan, the orderkey equi-pair carries the shuffle, and the
    * `l_shipdate > o_orderdate + 90 days` inequality rides the join as
    * a residual predicate — semi-join probes stop at the first
    * qualifying lineitem, so at 100 TB no per-order lineitem list is
    * ever materialized and the output of the join is at most the
    * pruned orders slice. */
  def tpchPriority(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q10-shaped returned-item report: top-20 customers by
    * revenue lost to returns in one order quarter. Scan-pruned facts
    * (quarter on orders, `l_returnflag = 'R'` on lineitem) meet in two
    * FK shuffles; the nation dim broadcasts; the top-20 plans
    * TakeOrderedAndProject over the per-customer rollup — per-partition
    * heaps, never a global sort. Revenue follows the family contract:
    * round at 4 after the sum, order by the rounded value with the
    * unique custkey as tiebreak. */
  def tpchReturned(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_returned"),
        round(first(col("c_acctbal")), 2).as("acctbal"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q19-shaped disjunctive-predicate revenue: OR-of-ANDs
    * branches mixing part attributes and lineitem quantity, reported
    * per branch (first-match CASE). The part side is pre-filtered to
    * the UNION of the branches' part-only conjuncts BEFORE the
    * broadcast — at 100 TB the broadcast ships only parts any branch
    * could accept, and the lineitem scan keeps its own pushable
    * quantity bound (all branches imply l_quantity >= 1, branch 3's
    * >= 25 stays a residual). The full disjunct then evaluates
    * post-join where both sides' columns exist. */
  def tpchDisjunct(s: SparkSession, d: String): DataFrame = {
    val b1 = col("p_type") === "PROMO" && col("p_size").between(1, 15) &&
      col("l_quantity").between(1.0, 20.0)
    val b2 = col("p_type") === "ECONOMY" && col("p_size").between(10, 30) &&
      col("l_quantity").between(10.0, 35.0)
    val b3 = col("p_brand") === "Brand#12" && col("p_size") <= 25 &&
      col("l_quantity") >= 25.0
    val partSide = Tables.part(s, d)
      .filter((col("p_type") === "PROMO" && col("p_size").between(1, 15)) ||
        (col("p_type") === "ECONOMY" && col("p_size").between(10, 30)) ||
        (col("p_brand") === "Brand#12" && col("p_size") <= 25))
      .select("p_partkey", "p_type", "p_brand", "p_size")
    Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(partSide), col("l_partkey") === col("p_partkey"))
      .filter(b1 || b2 || b3)
      .withColumn("branch",
        when(b1, "promo_small").when(b2, "economy_mid").otherwise("brand12_bulk"))
      // exact-money longs per line (r8 promo-class audit; see aggBasic)
      .withColumn("rev_e4",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long"))
      .groupBy(col("branch"))
      .agg(
        sum(col("rev_e4")).as("rev_e4"),
        count(lit(1)).as("n_items"),
        countDistinct(col("p_partkey")).as("n_parts"))
      .select(col("branch"), round(col("rev_e4") / 10000.0, 4).as("revenue"),
        col("n_items"), col("n_parts"))
      .orderBy(col("branch"))
  }

  /** TPC-H Q6-shaped revenue forecast: THE predicate-pushdown
    * microbenchmark — one conjunctive filter (ship year, discount
    * band, quantity cap) over lineitem, one unconditional aggregate,
    * no join, no shuffle beyond the final 1-row combine. All three
    * predicates must reach the parquet scan (PlanSpec pins the pushed
    * bounds); at 100 TB this query is pure scan bandwidth — row-group
    * statistics prune most of the file before a byte decompresses.
    * The discount band is stated in exact hundredths (the data is
    * 2-decimal) so neither engine tests a double against an open
    * boundary. */
  def tpchForecast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(year(col("l_shipdate")) === 1997 &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24.0)
      // exact-money longs: a GLOBAL revenue sum grows linearly with
      // the corpus (7×10⁹ at sf1) — the promo-class shape (r8 audit)
      .select(round(col("l_extendedprice") * col("l_discount") * 10000)
        .cast("long").as("rev_e4"))
      .agg(sum(col("rev_e4")).as("rev_e4"), count(lit(1)).as("n_items"))
      .select(round(col("rev_e4") / 10000.0, 4).as("revenue"), col("n_items"))

  /** TPC-H Q13-shaped customer order-count distribution: how many
    * customers placed exactly k qualifying orders, INCLUDING k = 0 —
    * which is why the priority predicate must ride the LEFT join's ON
    * clause, not a WHERE (a post-join filter would silently delete
    * the zero-order customers the query exists to count). Two
    * aggregations: the per-customer count shuffles on custkey, the
    * k-histogram is a ≤|k|-row rollup. At 100 TB orders pre-filters
    * before the join and customer shuffles once. */
  def tpchCustDist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_custkey")
      .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "5-LOW")
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("n_cust").desc, col("n_orders").desc)

  /** Exact per-group percentile report (SURVEY A-family closing the
    * sketch/exact pair from the other side): p50/p90/p99 of order
    * value per priority as TYPE-1 (lower-value) quantiles over exact
    * integer cents — the value AT sorted position ceil(q·n), never an
    * interpolation (interpolated quantiles divide doubles; position
    * selection is pure integer arithmetic, so both engines pick the
    * identical cell — the r3 half-cent-flip lesson institutionalized).
    * One rank window per priority partition; the rollup rides the
    * same partitioning, so the whole report is a single shuffle. */
  def quantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("cents").asc)
    Tables.orders(s, d)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
      .groupBy(col("o_orderpriority"))
      .agg(first(col("n")).as("n_orders"),
        min(when(col("rn") === expr("(n + 1) div 2"), col("cents"))).as("p50_cents"),
        min(when(col("rn") === expr("(9 * n + 9) div 10"), col("cents"))).as("p90_cents"),
        min(when(col("rn") === expr("(99 * n + 99) div 100"), col("cents"))).as("p99_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bucket width of [[quantileSketch]] in cents: 1000-unit buckets
    * over o_totalprice's [1e3, 5e5] range → ≤500 live buckets per
    * priority, and the sketch's one-sided error is < 1 bucket. */
  val QSketchBucketCents = 100000L

  /** Discrete fixed-bucket quantile sketch (A33, r6): the PORTABLE
    * approximate-quantile path, closing the sketch family's last
    * no-oracle gap — q_agg_approx's approx_percentile is
    * engine-internal (golden-bounded only), while this sketch is a
    * mechanics-level twin BOTH engines compute bit-identically: cents
    * quantize (one IEEE multiply + floor), bucket = cents DIV width
    * (floor-div on non-negative longs — same op both engines), and
    * per-(priority, bucket) counts ARE the sketch: bounded at
    * ≤500 longs per group REGARDLESS of input rows, map-side
    * combinable — the partial state a 100 TB quantile pass ships
    * where the exact twin (q_quantiles) pays a full sort of the fact.
    * Quantile p reads back as the lower edge of the first bucket
    * whose cumulative count reaches ceil(p·n) — the same TYPE-1 rank
    * the exact twin selects, so |estimate − exact| < 1 bucket width
    * BY CONSTRUCTION (RelationalSpec pins it against q_quantiles at
    * two SFs). Threshold compares are cross-multiplied integers
    * (100·cum ≥ p·n — the A30 precedent), never a share division.
    * One fact shuffle into the bucket rollup; the cumulative window
    * runs over the ≤500-row-per-group sketch, never the fact. */
  def quantileSketch(s: SparkSession, d: String): DataFrame =
    quantileSketchCore(Tables.orders(s, d))

  private[graft] def quantileSketchCore(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buckets = orders
      .select(col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
          s" DIV $QSketchBucketCents").as("bucket"))
      .groupBy(col("o_orderpriority"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val byPrio = Window.partitionBy(col("o_orderpriority"))
    val cum = buckets
      .withColumn("n", sum(col("c")).over(byPrio))
      .withColumn("cum", sum(col("c")).over(
        byPrio.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def lowerEdge(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p,
        col("bucket") * QSketchBucketCents))
    cum.groupBy(col("o_orderpriority"))
      .agg(first(col("n")).as("n_orders"),
        count(lit(1)).as("n_buckets"),
        lowerEdge(50).as("p50_lo_cents"),
        lowerEdge(90).as("p90_lo_cents"),
        lowerEdge(99).as("p99_lo_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** Tukey-fence (IQR) outlier screen per event type — the boxplot
    * companion to the MAD screen (A11): exact type-1 quartiles by
    * integer position selection, fences q1 − 1.5·IQR / q3 + 1.5·IQR
    * computed from those identical doubles on both engines, outliers
    * counted strictly outside the fences. NULL values are excluded
    * up front (loudly, as a counted column — not silently by the
    * window). Single shuffle: quartile window + rollup on the same
    * event_type partitioning. */
  def iqrOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("value").asc)
    val ranked = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    ranked
      .withColumn("q1", min(when(col("rn") === expr("(n + 3) div 4"), col("value")))
        .over(Window.partitionBy(col("event_type"))))
      .withColumn("q3", min(when(col("rn") === expr("(3 * n + 3) div 4"), col("value")))
        .over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n_values"),
        round(first(col("q1")), 6).as("q1"),
        round(first(col("q3")), 6).as("q3"),
        count(when(
          col("value") < col("q1") - lit(1.5) * (col("q3") - col("q1")), 1))
          .as("n_low"),
        count(when(
          col("value") > col("q3") + lit(1.5) * (col("q3") - col("q1")), 1))
          .as("n_high"))
      .orderBy(col("event_type"))
  }

  /** TPC-H Q22-shaped dormant high-balance customers: per nation, the
    * customers whose balance beats the global positive-balance average
    * yet placed NO order since 2000. The scalar average is ONE exact
    * 1-row aggregate (decimal cents → floor-div 1e-4 units, the
    * [[correlatedAvg]] tie-free contract) broadcast into a filter —
    * never a per-row subquery; the "no recent order" is a left-anti
    * join against the date-pruned orders slice. At 100 TB: customer
    * shuffles once for the anti join, orders only contributes its
    * post-2000 keys, and the balance rollup is exact integer cents. */
  def tpchChurn(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val bar = cust.filter(col("c_acctbal") > 0.0)
      .agg(
        (sum(col("c_acctbal").cast("decimal(18,2)")) * 100).cast("long").as("cents"),
        count(lit(1)).as("n"))
      .select((expr("(cents * 100) div n") / lit(10000.0)).as("bal_floor"))
    cust.crossJoin(broadcast(bar))
      .filter(col("c_acctbal") > col("bal_floor"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_cust"),
        (sum(col("c_acctbal").cast("decimal(18,2)")) * 100).cast("long").as("bal_cents"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q2-shaped cheapest-supplier-per-part: for each size-15
    * part, the supplier with the lowest observed per-unit price and a
    * deterministic suppkey tiebreak. Per-unit cost is exact integer
    * arithmetic end-to-end (price cents div integral quantity — no
    * double division to straddle a floor boundary cross-engine). The
    * part filter semi-reduces lineitem BEFORE the rollup via a
    * broadcast — at 100 TB only the ~2% qualifying slice enters the
    * one (partkey, suppkey) shuffle, and the winner-per-part rank
    * window rides the same partitioning (no second exchange). */
  def tpchMinCost(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = Tables.part(s, d).filter(col("p_size") === 15)
      .select("p_partkey", "p_name")
    val perSupp = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)" +
          " div cast(l_quantity as bigint)").as("unit_cents"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("p_name"), col("l_suppkey"))
      .agg(min(col("unit_cents")).as("unit_cents"))
    val byPart = Window.partitionBy(col("l_partkey"))
      .orderBy(col("unit_cents").asc, col("l_suppkey").asc)
    perSupp.withColumn("rn", row_number().over(byPart))
      .filter(col("rn") === 1)
      .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("p_name"),
        col("s_suppkey"), col("s_name"), col("unit_cents"))
      .orderBy(col("p_partkey"))
  }

  /** TPC-H Q3-shaped shipping priority (SURVEY J11 family): top-10
    * unshipped-revenue orders for one market segment around a cutoff
    * date. Both date predicates fold onto their scans (orders placed
    * BEFORE the cutoff, lineitems shipping AFTER it), the segment
    * filter semi-reduces customer before its join, and the final
    * top-10 plans TakeOrderedAndProject over the grouped revenue —
    * per-partition heaps, never a global sort. At 100 TB the only
    * full-width shuffles are the two FK joins on the date-pruned
    * slices. */
  def tpchShipping(s: SparkSession, d: String): DataFrame = {
    val cutoff = "1997-07-01"
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q14-shaped promo revenue share per ship month: one
    * conditional aggregate over the lineitem ⋈ part join for a single
    * ship year. The part dim is O(SF·200k) — small next to lineitem —
    * and joins broadcast at harness scale; at 100 TB it exceeds the
    * broadcast threshold and AQE falls back to a shuffle join keyed on
    * partkey, which this shape tolerates (one join, one 12-row agg).
    *
    * Exact-money quantization (r7 — caught by the sf1 oracle slice,
    * the first correctness check ever run at that mass): a month of
    * sf1 lineitems sums to ~4×10⁹ and double ACCUMULATION-ORDER noise
    * (~10⁻⁴ absolute) exceeds what round-at-4 can absorb, so Spark
    * and DuckDB legitimately disagreed in the 4th decimal. Each
    * line's revenue is therefore quantized to an exact integer in
    * 10⁻⁴ units FIRST — prices and discounts are 2-decimal, so rev is
    * a 4-decimal grid value computed within 10⁻⁹ of the grid and the
    * per-row round is deterministic on both engines — and the LONGS
    * sum exactly (no order sensitivity, headroom to 2⁵³·10⁻⁴ ≈ 10¹²
    * of revenue per group). One double conversion per group at the
    * end; the share divides the exact longs. */
  def tpchPromo(s: SparkSession, d: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(year(col("l_shipdate")) === 1997)
      .select(col("l_partkey"), month(col("l_shipdate")).as("ship_month"),
        round(rev * 10000).cast("long").as("rev_e4"))
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_e4")).otherwise(0L)).as("promo_e4"),
        sum(col("rev_e4")).as("total_e4"),
        count(lit(1)).as("n_items"))
      .select(col("ship_month"),
        round(col("promo_e4") / 10000.0, 4).as("promo_rev"),
        round(col("total_e4") / 10000.0, 4).as("total_rev"),
        col("n_items"),
        round(lit(100.0) * col("promo_e4") / col("total_e4"), 6).as("promo_share"))
      .orderBy(col("ship_month"))
  }

  /** TPC-H Q18-shaped large-volume orders: customers whose single
    * order accumulates > 300 units across its lineitems. The HAVING
    * relation (per-order quantity rollup) is built FIRST and filtered
    * to the rare heavy tail before any wider join touches it — at
    * 100 TB the rollup is lineitem's one full shuffle and everything
    * after joins against a relation thousands of times smaller.
    * l_quantity is integral-valued (1..50), so the double sums are
    * exact integers on both engines — no rounding contract needed. */
  def tpchBigOrders(s: SparkSession, d: String): DataFrame = {
    val heavy = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300.0)
    Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(heavy, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), round(col("o_totalprice"), 2).as("total_price"),
        col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
  }

  /** Year-over-year monthly revenue growth (r5 wave 13): the BI
    * period-comparison readout — revenue and order count per (year,
    * month), each month's growth vs the SAME month last year via one
    * lag window partitioned by month over the post-aggregation
    * relation (calendar-bounded; the window never touches fact
    * volume). Revenue is exact integer cents (decimal sum → long), so
    * the growth division sees identical operands cross-engine; the
    * first year of each month has no prior → NULL growth. */
  def yoyGrowth(s: SparkSession, d: String): DataFrame =
    yoyGrowthCore(Tables.orders(s, d))

  /** Growth over any `(o_orderdate, o_totalprice)` relation —
    * DataFrame-parameterized so AnalyticsSpec can pin the lag
    * alignment and first-year NULL by hand. */
  private[graft] def yoyGrowthCore(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = orders
      .select(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy(col("yr"), col("mo"))
      .agg((sum(col("p")) * 100).cast("long").as("rev_cents"),
        count(lit(1)).as("n_orders"))
    val byMonth = Window.partitionBy(col("mo")).orderBy(col("yr"))
    m.withColumn("prev_cents", lag(col("rev_cents"), 1).over(byMonth))
      .select(col("yr"), col("mo"), col("rev_cents"), col("n_orders"),
        round((col("rev_cents") - col("prev_cents")) * lit(100.0) / col("prev_cents"), 4)
          .as("yoy_pct"))
      .orderBy(col("yr"), col("mo"))
  }

  /** Top-k (SURVEY O2): orderBy+limit plans TakeOrderedAndProject —
    * per-partition heaps + driver merge of k rows, never a full sort.
    * Unique `o_orderkey` tiebreak keeps the k-th boundary stable. */
  def topk(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .withColumn("o_totalprice", round(col("o_totalprice"), 2))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  /** Set operations (SURVEY §2.7): UNION / INTERSECT / EXCEPT over
    * aligned single-column key sets. Spark set ops are multiset-exact
    * (INTERSECT/EXCEPT dedup like SQL); each is a shuffle on the full
    * row — fine for key-only projections. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val withOrders  = Tables.orders(s, d).select(col("o_custkey").as("custkey"))
    val positiveBal = Tables.customer(s, d).filter(col("c_acctbal") > 0)
      .select(col("c_custkey").as("custkey"))
    val bigSpenders = Tables.orders(s, d).filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey").as("custkey"))
    positiveBal.intersect(withOrders)
      .except(bigSpenders)
      .union(Tables.customer(s, d).filter(col("c_acctbal") < -900)
        .select(col("c_custkey").as("custkey")))
      .distinct()
      .orderBy(col("custkey"))
  }

  /** Salted two-phase aggregation (skew pattern): the 5 event_type
    * values are pathologically hot keys at scale — a direct groupBy
    * sends each key's entire volume to one reducer. Phase 1 aggregates
    * on (key, salt) with a 16-way salt so hot keys spread across 16
    * reducers; phase 2 combines the 16 partials per key. Results are
    * identical to the direct groupBy (the oracle is the plain form);
    * sums are re-rounded only at the end. AQE's skew handling covers
    * joins, not aggregations — this is the manual recipe. */
  def aggSalted(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("psum"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), round(sum(col("psum")), 2).as("sum_value"))
      .orderBy(col("event_type"))

  /** HLL register count — 64 keeps the whole sketch at 64 bytes of
    * state while the ~13% standard error (1.04/√64) stays honest in
    * the output next to the exact count. */
  val HllRegisters = 64

  /** Hand-rolled HyperLogLog distinct-event-id estimate vs the exact
    * count — the ORACLE-CHECKABLE face of the sketch tier
    * ([[aggApprox]]'s approx_count_distinct is engine-internal and can
    * only be golden-bounded; this one is reproduced register-for-
    * register by DuckDB from the portable hash + finalizer). The
    * mixed 31-bit value splits into register (low 6 bits) and a
    * 25-bit rank source; rank = leading zeros + 1 via
    * `26 − length(bin(v))` (both engines render minimal-width
    * binary). The harmonic denominator Σ2^(−M_j) is kept EXACT by
    * scaling to Σ2^(26−M_j) — integer shifts summed as longs, no
    * double accumulation — so the single final division is the only
    * float op. No small-range linear-counting correction on purpose:
    * it needs ln(), whose last ULP is libm-specific — the raw
    * estimate is deterministic everywhere and the output carries its
    * own error (measured −10.6%/+7.2%/+3.9% at the three harness SFs,
    * inside the 1.04/√64 band). The key is event_id (n ≫ 2.5m,
    * raw-HLL regime; user_id's ~150 distinct sit in the
    * linear-counting range where the uncorrected estimate reads low
    * by design). Production HLL wants the full xxhash64
    * (engine-internal, golden-bounded in aggApprox).
    *
    * Scale shape: one narrow hash projection, a 64-group max — the
    * map-side partial state is 64 bytes per task regardless of input
    * size — and a broadcast join of two 1-row aggregates. This is the
    * sketch CMS's q_cms_topk is to frequency, for cardinality. */
  def hllDistinct(s: SparkSession, d: String): DataFrame =
    hllCore(Tables.events(s, d).select(col("event_id").as("key")))

  /** Shared HLL front: portable hash → xorshift-multiply avalanche →
    * (register, rank) split, keeping `keep` columns alongside. The
    * polynomial hash equidistributes RESIDUES but not MAGNITUDE
    * (sequential keys observed spanning only [587k, 988k] — zero
    * values below 2¹⁹, so leading-zero ranks never fire). The
    * finalizer (classic LCG constants, all arithmetic exact in 63
    * bits on both engines) gives the avalanche the rank bits need;
    * register AND rank then split off the MIXED value, never the raw
    * hash (register-from-raw-h correlates with rank and read 62%
    * low). */
  private def hllRegRank(ids: DataFrame, keep: Seq[String]): DataFrame = {
    val h = Text.charHash(concat(lit("hll#"), col("key").cast("string")))
    ids.select(keep.map(col) :+ h.as("h"): _*)
      .withColumn("x", expr("h ^ shiftright(h, 15)"))
      .withColumn("x", expr("(x * 1664525) % 2147483648"))
      .withColumn("x", expr("x ^ shiftright(x, 13)"))
      .withColumn("x", expr("(x * 1013904223) % 2147483648"))
      .withColumn("x", expr("x ^ shiftright(x, 16)"))
      .select(keep.map(col) :+ (col("x") % HllRegisters).cast("int").as("reg") :+
        expr(s"x div $HllRegisters").as("v"): _*)
      .withColumn("rank",
        when(col("v") === 0, 26).otherwise(lit(26) - length(expr("bin(v)"))))
  }

  private[graft] def hllCore(ids: DataFrame): DataFrame = {
    val regs = hllRegRank(ids, Nil)
      .groupBy(col("reg")).agg(max(col("rank")).as("m_rank"))
    val allRegs = ids.sparkSession.range(HllRegisters)
      .select(col("id").cast("int").as("reg"))
      .join(regs, Seq("reg"), "left")
      .na.fill(0, Seq("m_rank"))
    val s = allRegs.agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(26 - m_rank AS INT))"))
        .as("sum_inv_e26"))
    val exact = ids.agg(countDistinct(col("key")).as("n_exact"))
    s.crossJoin(broadcast(exact))
      .select(lit(HllRegisters).as("n_registers"), col("n_exact"),
        col("sum_inv_e26"),
        round(lit(0.709 * HllRegisters * HllRegisters * 67108864.0)
          / col("sum_inv_e26"), 2).as("hll_estimate"))
      .withColumn("rel_error_pct", round(
        (col("hll_estimate") - col("n_exact")) * 100.0 / col("n_exact"), 2))
      .orderBy(col("n_registers"))
  }

  /** Grouped HyperLogLog (A34, r6): one 64-register sketch PER GROUP —
    * the sharded form every 100 TB deployment actually runs (distinct
    * users per day / per partition / per tenant), where the global
    * [[hllDistinct]] is the single-cell special case. Same portable
    * hash + finalizer + exact Σ2^(26−M_j) mechanics register-for-
    * register; the only structural change is that register state keys
    * on (group, register), so map-side partial state is 64 longs PER
    * GROUP per task and groups merge independently — sketches of this
    * shape union across shards/days without touching raw data, which
    * is the whole point of the sketch tier at scale. Keyed on event_id
    * within event_type (each group is deep in the raw-HLL regime at
    * every harness SF; the output carries per-group exact counts and
    * relative error so the estimate is honest row by row). */
  def hllGroups(s: SparkSession, d: String): DataFrame =
    hllGroupedCore(Tables.events(s, d)
      .select(col("event_type").as("grp"), col("event_id").as("key")))
      .withColumnRenamed("grp", "event_type")

  private[graft] def hllGroupedCore(ids: DataFrame): DataFrame = {
    val regs = hllRegRank(ids, Seq("grp"))
      .groupBy(col("grp"), col("reg")).agg(max(col("rank")).as("m_rank"))
    // dense (group × register) frame: unseen registers count as rank 0
    // in the harmonic sum, exactly as in the global sketch
    val allRegs = ids.select(col("grp")).distinct()
      .crossJoin(broadcast(ids.sparkSession.range(HllRegisters)
        .select(col("id").cast("int").as("reg"))))
      .join(regs, Seq("grp", "reg"), "left")
      .na.fill(0, Seq("m_rank"))
    val sums = allRegs.groupBy(col("grp")).agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(26 - m_rank AS INT))"))
        .as("sum_inv_e26"))
    val exact = ids.groupBy(col("grp")).agg(countDistinct(col("key")).as("n_exact"))
    sums.join(broadcast(exact), Seq("grp"))
      .select(col("grp"), col("n_exact"), col("sum_inv_e26"),
        round(lit(0.709 * HllRegisters * HllRegisters * 67108864.0)
          / col("sum_inv_e26"), 2).as("hll_estimate"))
      .withColumn("rel_error_pct", round(
        (col("hll_estimate") - col("n_exact")) * 100.0 / col("n_exact"), 2))
      .orderBy(col("grp"))
  }

  /** HLL merge losslessness (A35, r6): the property that makes the
    * sketch tier WORK at 100 TB — per-shard sketches union by
    * register-wise max into exactly the sketch a single pass over the
    * union would have built — proven as a declared oracle-checked
    * query instead of a docstring claim. The key space splits into
    * two disjoint shards (key parity — any partition works), each
    * shard builds its own 64-register sketch, the two merge by
    * max(register), and the output carries the whole-corpus estimate,
    * the merged estimate, and their equality as a boolean contract
    * (`merge_lossless` — max over a union IS the max of per-shard
    * maxes, so the integer harmonic sums are identical and the single
    * division yields the same double bit-for-bit). This is the
    * distributed-aggregation story stated operationally: shard
    * sketches of 64 longs each combine associatively, raw data never
    * re-moves. */
  def hllMerge(s: SparkSession, d: String): DataFrame =
    hllMergeCore(Tables.events(s, d).select(col("event_id").as("key")))

  private[graft] def hllMergeCore(ids: DataFrame): DataFrame = {
    val perShard = hllRegRank(
        ids.withColumn("half", pmod(col("key").cast("long"), lit(2L))), Seq("half"))
      .groupBy(col("half"), col("reg")).agg(max(col("rank")).as("m_rank"))
    val merged = perShard.groupBy(col("reg")).agg(max(col("m_rank")).as("m_rank"))
    val mergedDense = ids.sparkSession.range(HllRegisters)
      .select(col("id").cast("int").as("reg"))
      .join(merged, Seq("reg"), "left")
      .na.fill(0, Seq("m_rank"))
    val mergedSum = mergedDense.agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(26 - m_rank AS INT))"))
        .as("sum_merged"))
    val whole = hllCore(ids)
      .select(col("n_exact"), col("hll_estimate").as("est_whole"))
    whole.crossJoin(broadcast(mergedSum))
      .select(col("n_exact"), col("est_whole"),
        round(lit(0.709 * HllRegisters * HllRegisters * 67108864.0)
          / col("sum_merged"), 2).as("est_merged"))
      .withColumn("merge_lossless", col("est_merged") === col("est_whole"))
      .orderBy(col("n_exact"))
  }

  /** Sketch aggregates (A5 approx tier): HLL distinct counts and
    * t-digest-style percentiles. Engine-specific estimates → no DuckDB
    * oracle; RelationalSpec bounds them against exact values. */
  def aggApprox(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median_price"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000)).as("approx_p99_price"))
      .orderBy(col("l_returnflag"))

  /** Exact twin of [[aggApprox]] — the same groups and measures with
    * exact algorithms. Declared as its own oracle-checked query so the
    * sketch query's no-oracle row is bounded by a green one:
    * RelationalSpec asserts |approx − exact| within the sketches'
    * stated error on every group.
    *
    * Quantiles are DISCRETE by explicit rank — value at
    * `rank = ceil(p·n)` over a per-group sort — not interpolated:
    * an interpolated midpoint is fresh float arithmetic whose last ULP
    * differs between engines, and at sf0.001 the median lands exactly
    * on a half-cent where `round(,2)` coin-flips (observed 52724.24 vs
    * 52724.25). A discrete quantile IS a data value, so both engines
    * agree bit-for-bit at every scale. The rank-and-filter shape is
    * also the scalable exact algorithm: one window sort per group, no
    * per-group value buffers. At scale the trade vs the sketch tier is
    * explicit — this twin shuffles full distinct key sets and sorts
    * every group; the sketch version moves O(k) state. */
  def aggApproxExact(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(col("l_returnflag"))
    val ranked = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(grp.orderBy(col("l_extendedprice"))))
      .withColumn("n", count(lit(1)).over(grp))
    val quantiles = ranked
      .groupBy(col("l_returnflag"))
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5), col("l_extendedprice")))
          .as("exact_median_price"),
        max(when(col("rn") === ceil(col("n") * 0.99), col("l_extendedprice")))
          .as("exact_p99_price"))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .join(quantiles, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        round(col("exact_median_price"), 2).as("exact_median_price"),
        round(col("exact_p99_price"), 2).as("exact_p99_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Pivot (wide aggregation): per-user event counts, one column per
    * event_type. Values are enumerated explicitly — at scale an
    * unlisted pivot first runs a distinct scan to discover columns,
    * and implicit result schemas are an anti-pattern anyway. */
  def pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Bounded cross join: region × nation pair grid (5×25 at any SF —
    * cross joins are only ever legitimate when one side is O(1)). */
  def joinCross(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).select(col("r_name"))
      .crossJoin(Tables.nation(s, d).select(col("n_name")))
      .orderBy(col("r_name"), col("n_name"))

  /** Seeded Bernoulli sample — the training-data subsampling op.
    * Deterministic for a fixed seed within Spark (sampling is
    * engine-specific, so the check is rows-only + golden tests). */
  /** Deterministic ~10% Bernoulli sample: a polynomial hash of the
    * row key modulo 1000, thresholded. Unlike `df.sample` (whose RNG
    * stream is engine- and partitioning-specific), a key-hash sample
    * is reproducible across engines, runs, AND cluster sizes — the
    * property a training-data pipeline needs from a sample — and it's
    * a pushable scan predicate instead of a per-partition RNG. */
  def sample(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(pmod(pmod(col("l_orderkey") * 31L + col("l_linenumber"), lit(1000003L)),
        lit(1000L)) < 100L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      // (l_orderkey, l_linenumber) is NOT unique in the harness data
      // (the sf10 gate's find): l_quantity totalizes the sort; rows
      // still tied are full-row duplicates, hash-identical either way
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** Approximate GROUP BY with CLT error bars (r8; the BlinkDB /
    * online-aggregation posture, Agarwal et al. EuroSys 2013): per
    * language, estimate the mean document length from a deterministic
    * 1/16 key-hash sample and report the ±1.96·s/√n 95% confidence
    * half-width NEXT TO the exact answer — approximate query
    * processing as a declared, oracle-checked operator instead of a
    * promise. At 100 TB this is the interactive tier: the sample
    * predicate is a pushable scan filter (same key-hash Bernoulli as
    * q_sample — reproducible across engines, runs, and cluster
    * sizes, unlike df.sample's RNG), so the approximate pass reads
    * 1/16 of the data and the error bar quantifies the trade.
    *
    * Determinism (the exact-integer discipline): n_chars is integral,
    * so Σx and Σx² are EXACT longs at any corpus mass (Σx² ≤ 1.6e7 ×
    * rows — decades from overflow); every double after the two sums
    * is the same fixed IEEE expression on both engines, sqrt is
    * correctly-rounded, and `covered` compares the ROUNDED grid
    * values so even the boolean can't straddle engines. */
  def aqpGroupby(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val samp = docs
      .filter(pmod(pmod(col("doc_id") * 31L + 11L, lit(1000003L)), lit(16L)) === 0L)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_sample"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
    val exact = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_true"),
      sum(col("n_chars")).as("t1"))
    val n = col("n_sample").cast("double")
    val meanEst = round(col("s1") / n, 4)
    // Clamp the radicand: for a zero-variance group with s1² beyond
    // 2^53, s2 - s1²/n can round to a tiny NEGATIVE double — Spark
    // sqrt would yield NaN while DuckDB ABORTS, so both engines clamp
    // to 0 in lockstep (greatest here, greatest(...,0) in the oracle).
    val sd = sqrt(greatest(col("s2") - col("s1").cast("double") * col("s1") / n, lit(0.0)) / (n - 1))
    val half = round(lit(1.96) * sd / sqrt(n), 4)
    val meanTrue = round(col("t1") / col("n_true").cast("double"), 4)
    samp.join(exact, Seq("lang"))
      .filter(col("n_sample") > 1)
      .select(col("lang"), col("n_sample"),
        (col("n_sample") * 16).as("n_est"), col("n_true"),
        meanEst.as("mean_est"), half.as("half_width"), meanTrue.as("mean_true"),
        (abs(meanEst - meanTrue) <= half).as("covered"))
      .orderBy(col("lang"))
  }

  /** Per-source keep rates in permille — the data-mixing weights of
    * [[sampleStratified]], generated so the Spark weights relation and
    * the DuckDB VALUES list stay in lockstep (rates sweep 0–950‰;
    * src2 lands on 0‰ = excluded entirely, which a mixing config must
    * be able to express). */
  val StratifiedRates: Seq[(String, Long)] =
    (0 until 20).map(i => s"src$i" -> (100L + 450L * i) % 1000L)

  /** Stratified deterministic sample — the corpus data-mixing op: each
    * source is kept at its own rate (web 10%, wiki 100%, … rendered
    * here as a generated rate table). Same portable key-hash Bernoulli
    * as [[sample]], so the draw is reproducible across engines, runs,
    * and cluster sizes; the weights ride in as a broadcast dim, the
    * fact side stays a narrow scan+filter. */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    stratifiedCore(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** Core stratified draw over any `(doc_id, source)` relation —
    * DataFrame-parameterized so PropertySpec drives the SAME hash and
    * weights under adversarial partitioning. */
  def stratifiedCore(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val weights = StratifiedRates.toDF("source", "keep_permille")
    docs
      .join(broadcast(weights), "source")
      .filter(pmod(pmod(col("doc_id") * 31L + 7L, lit(1000003L)), lit(1000L))
        < col("keep_permille"))
      .select(col("doc_id"), col("source"), col("keep_permille"))
  }

  /** Statistical aggregate family (A5 extension): spread, dependence,
    * shape, and interpolated median. skewness/kurtosis use population
    * moments in Spark vs sample-corrected in DuckDB, so the oracle
    * recomputes Spark's definition from raw moments. */
  def aggStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
        round(skewness(col("l_quantity")), 4).as("skew_qty"),
        round(kurtosis(col("l_quantity")), 4).as("kurt_qty"),
        round(median(col("l_quantity")), 2).as("median_qty"))
      .orderBy(col("l_returnflag"))

  /** Pairwise Welch t-tests (A17, r4): for every event-type pair, is
    * the difference in mean value significant? — the experimentation
    * primitive behind every A/B dashboard, with Welch's unequal-
    * variance form (the pooled-variance Student's t silently assumes
    * homoscedasticity). One map-side-combinable moment pass per type
    * (n, mean, sample variance — 5 rows at any event volume), then a
    * bounded 5×5 self-join builds the 10 pairs and the closed form
    * (t, Welch–Satterthwaite df) is pure IEEE arithmetic on rounded
    * moments ([[regression]]'s lockstep pattern). Event volume
    * touches exactly one shuffle. */
  def welch(s: SparkSession, d: String): DataFrame =
    welchCore(Tables.events(s, d))

  /** Welch over any `(event_type, value)` relation —
    * DataFrame-parameterized so AnalyticsSpec can pin the closed form
    * on hand-computed samples. */
  def welchCore(events: DataFrame): DataFrame = {
    val m = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")), 4).as("mean"),
        round(var_samp(col("value")), 4).as("s2"))
    val a = m.select(col("event_type").as("type_a"), col("n").as("na"),
      col("mean").as("ma"), col("s2").as("va"))
    val b = m.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("mean").as("mb"), col("s2").as("vb"))
    val sa = col("va") / col("na")
    val sb = col("vb") / col("nb")
    a.crossJoin(b).filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        round((col("ma") - col("mb")) / sqrt(sa + sb), 4).as("t"),
        round(pow(sa + sb, 2) / (
          pow(sa, 2) / (col("na") - 1) + pow(sb, 2) / (col("nb") - 1)), 2).as("df"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Data-quality audit (A16, r4): six declarative constraint checks
    * rolled into one (rule, checked, violations, pass) report — the
    * Deequ-style contract gate a warehouse runs before promoting a
    * batch: primary-key uniqueness, two referential-integrity
    * probes, a range rule, a derived-column consistency rule, and a
    * completeness rule. Each check is one aggregate over its table
    * (uniqueness = count − count distinct; orphans = LEFT ANTI join
    * count — at scale the build sides are the key columns only);
    * the six 1-row results union into the report. Every scan is
    * column-pruned to just the rule's columns (PlanAudit: 1 shuffle
    * total, FK probes broadcast at harness sizes); at 100 TB,
    * same-table rules would fuse into one multi-measure aggregate —
    * the report schema is what makes that refactor invisible. The
    * harness data is clean by construction (all-zero violations);
    * AnalyticsSpec plants one violation per rule and watches each
    * flip red independently. */
  def dqAudit(s: SparkSession, d: String): DataFrame =
    dqAuditCore(Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.customer(s, d), Tables.events(s, d), Tables.documents(s, d))

  /** Audit over any five harness-shaped relations —
    * DataFrame-parameterized so AnalyticsSpec can plant violations. */
  def dqAuditCore(orders: DataFrame, lineitem: DataFrame, customer: DataFrame,
      events: DataFrame, documents: DataFrame): DataFrame = {
    def report(rule: String, checked: Column, violations: Column, df: DataFrame) =
      df.agg(checked.as("n_checked"), violations.as("n_violations"))
        .select(lit(rule).as("rule"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    def fkReport(rule: String, probe: DataFrame, probeKey: String,
        build: DataFrame, buildKey: String) = {
      val orphans = probe.select(col(probeKey))
        .join(build.select(col(buildKey)), col(probeKey) === col(buildKey), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      probe.agg(count(lit(1)).as("n_checked")).crossJoin(orphans)
        .select(lit(rule).as("rule"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    }
    val pk = report("orders_pk_unique",
      count(lit(1)), count(lit(1)) - countDistinct(col("o_orderkey")), orders)
    val fkLine = fkReport("lineitem_fk_orders", lineitem, "l_orderkey", orders, "o_orderkey")
    val fkOrd = fkReport("orders_fk_customer", orders, "o_custkey", customer, "c_custkey")
    val range = report("events_value_nonneg",
      count(lit(1)), sum(when(col("value") < 0, 1L).otherwise(0L)), events)
    val consistent = report("documents_nchars_consistent",
      count(lit(1)), sum(when(col("n_chars") =!= length(col("text")), 1L)
        .otherwise(0L)), documents)
    val complete = report("customer_segment_notnull",
      count(lit(1)), sum(when(col("c_mktsegment").isNull, 1L).otherwise(0L)), customer)
    pk.unionByName(fkLine).unionByName(fkOrd)
      .unionByName(range).unionByName(consistent).unionByName(complete)
      .orderBy(col("rule"))
  }

  /** CUSUM changepoint detection (A14, r4): per event type, the hour
    * where the cumulative sum of (hourly count − overall mean) peaks
    * in magnitude — the classic "when did the level shift" detector
    * over a metric series. The running CUSUM is an ORDERED window
    * sum — both engines consume the same deltas in the same order,
    * pinning any float noise to reduction-tree ULPs (~1e-12 against
    * round(4)'s 5e-5 margin); the mean is an exact long/long
    * division. Peak
    * selection is a row_number over (|cusum| desc, hour) — ties
    * break on the earlier hour. Everything partitions by event_type;
    * the hourly rollup is the only pass that sees event volume. */
  def cusum(s: SparkSession, d: String): DataFrame =
    cusumCore(Tables.events(s, d))

  /** CUSUM over any events relation — DataFrame-parameterized so
    * AnalyticsSpec can pin the peak location on a planted level
    * shift. */
  def cusumCore(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(col("event_type"))
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    hourly
      .withColumn("mean_n",
        sum(col("n")).over(grp) / count(lit(1)).over(grp).cast("double"))
      .withColumn("cusum", sum(col("n") - col("mean_n"))
        .over(grp.orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_hours", count(lit(1)).over(grp))
      .withColumn("rn", row_number().over(grp.orderBy(abs(col("cusum")).desc, col("h"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_hours"),
        col("h").as("peak_hour"),
        round(col("cusum"), 4).as("peak_cusum"))
      .orderBy(col("event_type"))
  }

  /** Gini coefficient (A15, r4): per-group inequality of the value
    * distribution — the "how concentrated is spend" measure, from
    * the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over values
    * ranked ascending with a unique tiebreak. One per-group window
    * pass for ranks, one aggregate for the moments; the Σ(i·xᵢ)
    * double sum's summation-order noise is ~1e-13 relative against
    * round(6). Non-negative values assumed (events.value is); the
    * formula is undefined for Σx = 0 groups, which the guard turns
    * into NULL rather than a cross-engine NaN/Inf mismatch. */
  def gini(s: SparkSession, d: String): DataFrame =
    giniCore(Tables.events(s, d))

  /** Gini over any `(event_type, event_id, value)` relation —
    * DataFrame-parameterized so AnalyticsSpec can pin the closed
    * form on tiny distributions. */
  def giniCore(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // asc_nulls_last on the ranked column (here and in every other
    // rank-over-value window): Spark ascending defaults NULLS FIRST,
    // DuckDB NULLS LAST — pin the order so a nullable value vintage
    // diverges loudly, not silently (r4 advice)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc_nulls_last, col("event_id"))
    events
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("i", row_number().over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total"),
        round(when(sum(col("value")) > 0,
          lit(2.0) * sum(col("i") * col("value")) /
            (count(lit(1)) * sum(col("value"))) -
            (count(lit(1)) + lit(1)).cast("double") / count(lit(1))), 6).as("gini"))
      .orderBy(col("event_type"))
  }

  /** Pareto skyline (A12, r4): per returnflag, the lineitems no other
    * item dominates on (price, quantity) — the multi-objective
    * frontier query ("nothing is both more expensive AND bigger").
    * The classic rendering is a quadratic NOT EXISTS self-join; the
    * scale rendering here is sort-free of it: collapse ties to one
    * (price, max qty) point per price (bounded by price cardinality,
    * not row count), then ONE descending-price window pass where a
    * point survives iff its qty beats the running max over all
    * strictly-higher prices. Domination is strict-on-price (a higher
    * price with equal qty kills; equal price collapses to its best
    * qty). One shuffle + one window sort per group — O(n log n)
    * against the self-join's O(n²). */
  /** ABC / Pareto cumulative-share classification (A-family
    * extension): tier each nation's suppliers by cumulative revenue
    * share — A carries the first 70% of the nation's revenue, B to
    * 90%, C the tail. The inventory-management classic ("20% of
    * suppliers carry 80% of value") next to [[skyline]]'s frontier
    * and [[gini]]'s concentration scalar. Revenue is exact integer
    * cents (decimal sum → long), the running share rides ONE
    * nation-partitioned window over the per-supplier rollup (ordered
    * (revenue desc, s_suppkey) — a total order, so the running sum is
    * deterministic), and the tier cuts compare CROSS-MULTIPLIED
    * integers (cum·10 vs tot·{7,9}) — no share division to straddle a
    * boundary cross-engine. Scale: fact volume shuffles once into the
    * supplier rollup (bounded by |supplier|); both windows partition
    * by nation — never global. */
  def abcClass(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .select(col("l_suppkey"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("cents")).as("revenue_cents"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    abcClassCore(rev.join(sup, col("l_suppkey") === col("s_suppkey"))
      .select(col("n_name"), col("s_suppkey"), col("revenue_cents")))
  }

  /** Tiering over any `(n_name, s_suppkey, revenue_cents)` relation —
    * DataFrame-parameterized so RelationalSpec can pin the 70/90
    * boundary cuts on a hand-built nation. */
  def abcClassCore(rev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val run = Window.partitionBy(col("n_name"))
      .orderBy(col("revenue_cents").desc, col("s_suppkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("n_name"))
    rev
      .withColumn("cum", sum(col("revenue_cents")).over(run))
      .withColumn("tot", sum(col("revenue_cents")).over(tot))
      .withColumn("cls",
        when(col("cum") * 10 <= col("tot") * 7, "A")
          .when(col("cum") * 10 <= col("tot") * 9, "B")
          .otherwise("C"))
      .select(col("n_name"), col("s_suppkey"), col("revenue_cents"), col("cls"))
      .orderBy(col("n_name"), col("s_suppkey"))
  }

  def skyline(s: SparkSession, d: String): DataFrame =
    skylineCore(Tables.lineitem(s, d))

  /** Frontier over any `(l_returnflag, l_extendedprice, l_quantity)`
    * relation — DataFrame-parameterized so RelationalSpec can pin the
    * domination cases by hand. */
  def skylineCore(items: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    items
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(max(col("l_quantity")).as("l_quantity"))
      .withColumn("best", max(col("l_quantity")).over(w))
      .filter(col("best").isNull || col("l_quantity") > col("best"))
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .orderBy(col("l_returnflag"), col("l_extendedprice"))
  }

  /** Equi-depth histogram (A13, r4): lineitem prices cut into 10
    * equal-population deciles per returnflag — the histogram an
    * optimizer or data-profiler actually wants (equi-WIDTH buckets,
    * T7's length_buckets, starve on skewed data; equi-depth adapts).
    * ntile's assignment depends on row ORDER, so the window is
    * tiebroken to a total order (price, orderkey, linenumber) — both
    * engines then assign identical buckets by the shared ANSI rule
    * (first `n mod 10` buckets one row bigger). Exact rendering: one
    * partitioned window sort; at 100 TB the sketch tier's
    * approx-percentile boundaries answer the same question with O(k)
    * state, which is why both live in the engine. */
  def equidepthHist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("decile", ntile(10).over(w))
      // exact-money cents: a decile's price mass reaches 3.3×10¹⁰ at
      // sf10 where the d2 round of a double sum flipped a cent between
      // engines — caught by the r8 two-decade gate, fixed with the
      // promo-class exact-integer contract (see aggBasic)
      .withColumn("price_e2", round(col("l_extendedprice") * 100).cast("long"))
      .groupBy(col("l_returnflag"), col("decile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("lo"),
        round(max(col("l_extendedprice")), 2).as("hi"),
        sum(col("price_e2")).as("price_e2"))
      .select(col("l_returnflag"), col("decile"), col("n"), col("lo"), col("hi"),
        round(col("price_e2") / 100.0, 2).as("total"))
      .orderBy(col("l_returnflag"), col("decile"))
  }

  /** MAD robust outliers (A11, r4): per-group median absolute
    * deviation — the outlier detector that survives the outliers it
    * hunts (mean/stddev z-scores get dragged by the very tail they
    * should flag; median/MAD don't). Both medians are DISCRETE
    * rank-and-filter selections ([[aggApproxExact]]'s technique: the
    * chosen value is a data value, immune to the cross-engine
    * interpolation ULP that flipped a half-cent at sf0.001). Every
    * step is a window over the (event_type) partition: one exchange,
    * no join (a join-back of the 5-row medians flipped from sort-merge
    * to broadcast late, run to run). Flag threshold = 3·1.4826·MAD
    * (1.4826 ≈ 1/Φ⁻¹(¾) scales MAD to σ under normality);
    * |value−median| and the product are single IEEE ops both engines
    * compute bit-identically, so the count needs no epsilon. */
  def madOutliers(s: SparkSession, d: String): DataFrame =
    madOutliersCore(Tables.events(s, d))

  /** MAD over any `(event_type, value)` relation —
    * DataFrame-parameterized so AnalyticsSpec can pin the discrete
    * medians and the flag threshold by hand. */
  def madOutliersCore(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(col("event_type"))
    // the ceil(n/2)-th of `v` in the group's `order`
    def median(v: String, order: Column): Column =
      max(when(row_number().over(grp.orderBy(order)) === ceil(col("n") * 0.5), col(v))).over(grp)
    events.select(col("event_type"), col("value"))
      .withColumn("n", count(lit(1)).over(grp))
      .withColumn("med", median("value", col("value").asc_nulls_last))
      .withColumn("adev", abs(col("value") - col("med")))
      .withColumn("mad", median("adev", col("adev")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 4).as("med"),
        round(max(col("mad")), 4).as("mad"),
        sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** UNPIVOT / melt (the inverse of [[pivot]], r4): three wide
    * measure columns become (measure, val) long format, then one
    * grouped aggregate per (flag, status, measure) — the
    * wide-to-long reshape every metrics warehouse needs, and in
    * Spark a zero-shuffle `Expand` (each input row emits k rows in
    * place; only the downstream agg shuffles, map-side combined). */
  def unpivotMeasures(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(Array(col("l_returnflag"), col("l_linestatus")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("measure"))
      .agg(count(lit(1)).as("n"), round(sum(col("val")), 2).as("total"))
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("measure"))

  /** Grouped closed-form OLS (A10, r4): per-event-type regression of
    * value on hour-of-day — the "is there a time-of-day effect"
    * analytics primitive, fit in ONE aggregation pass from the five
    * population moments. No iterative solver, no `regr_slope` (whose
    * internal accumulation order can't be lockstep-rounded across
    * engines): the moments are AVERAGES rounded at 6 decimals —
    * avg error shrinks ~1/n while rounding granularity stays fixed,
    * so the boundary cushion is ~460× at sf0.1 (the sum-based
    * renderings at any rounding depth were measured to sit within
    * 5e-9 of a boundary) — and slope/intercept/r² are then pure IEEE
    * arithmetic both engines compute bit-identically. Map-side
    * combinable, 5 output rows: the at-scale shape for grouped
    * model fitting. */
  def regression(s: SparkSession, d: String): DataFrame =
    regressionCore(Tables.events(s, d).select(col("event_type"),
      hour(col("ts")).cast("double").as("x"), col("value").as("y")))

  /** Closed-form fit over any `(event_type, x, y)` relation —
    * DataFrame-parameterized so AnalyticsSpec can pin the fit on
    * hand-computed fixtures (perfect line → slope/intercept exact,
    * r² = 1). */
  def regressionCore(ev: DataFrame): DataFrame = {
    val m = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      round(avg(col("x")), 6).as("mx"), round(avg(col("y")), 6).as("my"),
      round(avg(col("x") * col("y")), 6).as("mxy"),
      round(avg(col("x") * col("x")), 6).as("mxx"),
      round(avg(col("y") * col("y")), 6).as("myy"))
    // degenerate groups (zero variance) get NULLs, the regr_* family
    // convention — without the guards ANSI mode raises DIVIDE_BY_ZERO
    val cov = col("mxy") - col("mx") * col("my")
    val varx = col("mxx") - col("mx") * col("mx")
    val vary = col("myy") - col("my") * col("my")
    val slope = when(varx =!= 0.0, cov / varx)
    m.select(col("event_type"), col("n"),
        round(slope, 6).as("slope"),
        round(col("my") - slope * col("mx"), 6).as("intercept"),
        round(when(varx =!= 0.0 && vary =!= 0.0,
          cov * cov / (varx * vary)), 6).as("r2"))
      .orderBy(col("event_type"))
  }

  /** Ordered collect family: collect_list/collect_set surface with a
    * deterministic sort before join — per-nation supplier rosters,
    * groups bounded by the dimension's cardinality (collect over an
    * unbounded fact group would be the anti-pattern). Also argmax:
    * max_by keyed on the unique s_suppkey. */
  def aggCollect(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_supp"),
        array_join(sort_array(collect_list(col("s_name"))), ",").as("roster"),
        size(array_distinct(collect_list(col("s_nationkey").cast("int")))).as("n_distinct_nk"),
        max_by(col("s_name"), col("s_suppkey")).as("latest_supplier"))
      .orderBy(col("n_name"))

  /** Lag-k autocorrelation (A18, r4): per event type, how correlated
    * the hourly event-count series is with itself k hours back, for
    * k = 1..3 — the seasonality/burstiness diagnostic run before any
    * forecasting. Series = hourly rollup (the only pass that sees
    * event volume); the mean is exact long/long division; numerator
    * and denominator follow the [[regressionCore]] lockstep rule:
    * each is a ROUNDED avg (6 dp, noise cushion ~500× at sf0.1), and
    * r_k is then pure IEEE arithmetic both engines compute
    * bit-identically. lag(k) over the hour-ordered window skips
    * missing partners via null-propagating products (avg ignores
    * nulls on both engines), matching the observed-series convention
    * (gaps collapse, not zero-fill — [[densify]] is the zero-fill
    * face). */
  def autocorr(s: SparkSession, d: String): DataFrame =
    autocorrCore(Tables.events(s, d))

  /** Autocorrelation over any events relation — DataFrame-
    * parameterized so AnalyticsSpec can pin r_k signs on a planted
    * alternating series (r1 ≈ −1, r2 ≈ +1). */
  def autocorrCore(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(col("event_type"))
    val seq = grp.orderBy(col("h"))
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).cast("double").as("x"))
    val staged = hourly
      .withColumn("mean_x", sum(col("x")).over(grp) / count(lit(1)).over(grp))
      .withColumn("d", col("x") - col("mean_x"))
    val lagged = (1 to 3).foldLeft(staged) { (df, k) =>
      df.withColumn(s"d$k", lag(col("d"), k).over(seq))
    }
    val moments = round(avg(col("d") * col("d")), 6).as("c0") +:
      (1 to 3).map(k => round(avg(col("d") * col(s"d$k")), 6).as(s"c$k"))
    val m = lagged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), moments: _*)
    m.select(
        col("event_type") +: col("n_hours") +:
          (1 to 3).map(k =>
            round(col(s"c$k") * (col("n_hours") - k) /
              (col("c0") * col("n_hours")), 6).as(s"r$k")): _*)
      .orderBy(col("event_type"))
  }

  /** Chi-square independence test (A19, r4): is document language
    * independent of document source? Observed counts from ONE
    * grouped rollup (the only pass over the corpus); row/column
    * totals are partitioned window sums over the tiny contingency
    * relation (cells ≤ |lang|·|source|) and the grand total / χ² /
    * dof are 1-row broadcast aggregates. Expected counts are
    * exact-integer products divided once (bit-identical across
    * engines); per-cell contribution (O−E)²/E is pure IEEE; the χ²
    * total sums ≤ dozens of identical doubles (ULP noise ~1e-12
    * against round(4)'s 5e-5). Output is per-cell — the analyst sees
    * WHICH cells drive the dependence — with the χ² total and
    * (r−1)(c−1) dof carried on every row. */
  def chisq(s: SparkSession, d: String): DataFrame =
    chisqCore(Tables.documents(s, d).select(
      col("lang").as("a"), col("source").as("b")))

  /** Chi-square over any `(a, b)` categorical pair — DataFrame-
    * parameterized so AnalyticsSpec can pin the independent case
    * (χ² = 0 on a product distribution) and a hand-computed 2×2. */
  def chisqCore(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the cell rollup — the only pass over the corpus — is
    // materialized ONCE (checkpoint leaf, |a|·|b|-bounded): its five
    // consumers (two axis distincts, the densify join, the grand
    // total, dof) canonicalize unequally once join-side null filters
    // are inferred, so exchange reuse alone cannot hold the scan
    // count at one. Whole-relation scalars (grand total, χ² sum,
    // dof) attach via 1-row aggregates + broadcast cross joins, not
    // unpartitioned windows (r12, guide §2): the window form moved
    // every cell through one WindowExec task and warned on every
    // run; aggregates stay map-side-partial and broadcast one row
    // back. The χ² total sums the same ≤dozens of doubles in a
    // different order — ULP noise ~1e-12 against round(4)'s 5e-5,
    // the documented tolerance.
    val obs = Iterate.leaf(
      pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n")))
    // densify: a zero-observed cell still contributes (0−E)²/E = E, so
    // the grid is the distinct-a × distinct-b cross (bounded by level
    // cardinalities, not data volume)
    // the axis cross is |b|-bounded — broadcast EXPLICITLY: the
    // checkpoint leaf's conservative stats would otherwise plan a
    // CartesianProduct
    val full = obs.select(col("a")).distinct()
      .crossJoin(broadcast(obs.select(col("b")).distinct()))
      .join(obs, Seq("a", "b"), "left")
      .na.fill(0L, Seq("n"))
    val cells = full
      .withColumn("rt", sum(col("n")).over(Window.partitionBy(col("a"))))
      .withColumn("ct", sum(col("n")).over(Window.partitionBy(col("b"))))
      .crossJoin(broadcast(obs.agg(sum(col("n")).as("tot"))))
      .withColumn("e", col("rt") * col("ct") / col("tot").cast("double"))
      .withColumn("contrib",
        (col("n") - col("e")) * (col("n") - col("e")) / col("e"))
    cells
      .crossJoin(broadcast(cells.agg(round(sum(col("contrib")), 4).as("chisq"))))
      .crossJoin(broadcast(obs.agg(
        ((countDistinct(col("a")) - 1) *
          (countDistinct(col("b")) - 1)).cast("long").as("dof"))))
      .select(col("a").as("lang"), col("b").as("source"), col("n"),
        round(col("e"), 4).as("expected"),
        round(col("contrib"), 6).as("contrib"),
        col("chisq"), col("dof"))
      .orderBy(col("lang"), col("source"))
  }

  /** Winsorization (A20, r4): per returnflag, clamp prices into the
    * discrete [p05, p95] band and report how the mean moves — the
    * standard robust-mean preprocessing step. Both fences are
    * rank-and-filter DISCRETE quantiles ([[aggApproxExact]]'s
    * technique: the fence IS a data value, immune to cross-engine
    * interpolation ULPs), so the clip comparisons are exact and the
    * clip counts need no epsilon. Two window passes over the group
    * partition + one join of a 3-row fence dim; means are rounded at
    * 4 dp (noise cushion ~500× at sf0.1). */
  def winsorize(s: SparkSession, d: String): DataFrame =
    winsorizeCore(Tables.lineitem(s, d)
      .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("v")))

  /** Winsorization over any `(grp, v)` relation — DataFrame-
    * parameterized so AnalyticsSpec can pin fences and clip counts
    * on a hand-ranked fixture. */
  def winsorizeCore(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(col("grp"))
    val fences = rows
      .withColumn("rn", row_number().over(grp.orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(grp))
      .groupBy(col("grp"))
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.05), col("v"))).as("p05"),
        max(when(col("rn") === ceil(col("n") * 0.95), col("v"))).as("p95"))
    rows.join(fences, Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        round(max(col("p05")), 2).as("p05"),
        round(max(col("p95")), 2).as("p95"),
        sum(when(col("v") < col("p05"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("p95"), 1L).otherwise(0L)).as("n_clip_hi"),
        round(avg(col("v")), 4).as("mean_raw"),
        round(avg(least(greatest(col("v"), col("p05")), col("p95"))), 4)
          .as("mean_wins"))
      .orderBy(col("grp"))
  }

  /** Key-skew profile (A21, r4): the shuffle-planning diagnostic a
    * 100 TB operator runs BEFORE picking a join strategy — per-key
    * frequency of the prospective shuffle key, reported as the top-10
    * heavy hitters with their share and cumulative share, each row
    * carrying the global skew ratio (max key count ÷ mean key count;
    * ≈1 → uniform, ≫1 → salt or AQE-skew-join territory). One
    * shuffle builds the per-key counts; the global moments are a
    * 1-row aggregate OF THE COUNTS (never a second pass over the
    * fact table) riding along as a broadcast; top-10 is a
    * TakeOrderedAndProject; rank and cumulative share come from a
    * ≤100-pair broadcast self-join over those 10 rows. Counts and
    * sums are integer-exact, so shares divide identical longs on
    * both engines. */
  def skewProfile(s: SparkSession, d: String): DataFrame =
    skewProfileCore(Tables.lineitem(s, d).select(col("l_suppkey").as("k")))

  /** Profile over any single-column `(k)` relation — DataFrame-
    * parameterized so AnalyticsSpec can pin shares on a planted-skew
    * fixture. */
  def skewProfileCore(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = rows.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    val glob = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val top = counts.orderBy(col("cnt").desc, col("k")).limit(10)
    // rank + running sum over the 10-row top-k via a broadcast
    // predecessor self-join (r12, guide §2): the r11 unpartitioned
    // windows warned on every run; over ≤10 rows the ≤100-pair join
    // computes the identical row_number (predecessors-or-self under
    // the same (cnt desc, k) total order — k is unique post-rollup)
    // and inclusive running sum, with no single-task WindowExec. The
    // rollup exchange below both `top` references is reused, so the
    // fact table is still scanned once.
    top
      .join(broadcast(top.select(col("cnt").as("cnt2"), col("k").as("k2"))),
        col("cnt2") > col("cnt") ||
          (col("cnt2") === col("cnt") && col("k2") <= col("k")))
      .groupBy(col("k"), col("cnt"))
      .agg(count(lit(1)).cast("int").as("rk"), sum(col("cnt2")).as("cum_cnt"))
      .crossJoin(broadcast(glob))
      .select(col("rk"), col("k"), col("cnt"),
        round(col("cnt") / col("n_rows").cast("double"), 6).as("share"),
        round(col("cum_cnt") / col("n_rows").cast("double"), 6).as("cum_share"),
        col("n_keys"),
        round(col("max_cnt") * col("n_keys") / col("n_rows").cast("double"), 6)
          .as("skew_ratio"))
      .orderBy(col("rk"))
  }

  /** PSI distribution drift (A22, r4): the Population Stability Index
    * between the first and second time-half of each event type's
    * value distribution — the drift gate an ML-monitoring pipeline
    * runs before trusting a feature ("did this input move since the
    * reference window?"; PSI < 0.1 stable, > 0.25 investigate). Bins
    * are the REFERENCE half's discrete deciles ([[winsorize]]'s
    * rank-and-filter fences: each fence IS a data value, so bin
    * assignment is exact comparisons, no interpolation ULPs);
    * both halves bin against the same 9 fences (a 1-row-per-type
    * broadcast dim), counts are integers, and Laplace +1 smoothing
    * over the fixed 10-bin spine keeps every share positive without
    * an epsilon convention. (p−q)·ln(p/q) is pure IEEE on identical
    * operands; the per-type total sums 10 identical doubles (ULP
    * noise ~1e-16 vs round(6)'s 5e-7 — the chisq precedent). The
    * time split is [[graft.ops.Events.mergeUpsertCore]]'s integer-
    * microsecond midpoint from a 1-row broadcast agg. Event volume
    * crosses exactly two shuffles (fence ranking, cell counts);
    * everything after is dozens of rows. */
  def psiDrift(s: SparkSession, d: String): DataFrame =
    psiDriftCore(Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("value")))

  /** PSI over any `(event_type, us, value)` relation — DataFrame-
    * parameterized so AnalyticsSpec can pin the hand-computed
    * two-cell drift and the zero-drift identity case. */
  def psiDriftCore(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mid = ev.agg(((min(col("us")) + max(col("us"))) / 2).cast("long").as("mid_us"))
    val stamped = ev.crossJoin(broadcast(mid))
      .withColumn("half", when(col("us") <= col("mid_us"), lit("ref")).otherwise(lit("cur")))
    val w = Window.partitionBy(col("event_type"))
    val fenceCols = (1 to 9).map(j =>
      max(when(col("rn") === ceil(col("n") * j / lit(10.0)), col("value"))).as(s"f$j"))
    // asc_nulls_last pinned explicitly: Spark's default ascending puts
    // NULLS FIRST, DuckDB's puts NULLS LAST — on a nullable value
    // vintage the rank-derived fences would silently diverge
    // cross-engine instead of failing loudly (r4 advice)
    val fences = stamped.filter(col("half") === "ref")
      .withColumn("rn", row_number().over(w.orderBy(col("value").asc_nulls_last)))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy(col("event_type"))
      .agg(fenceCols.head, fenceCols.tail: _*)
    val binned = stamped.join(broadcast(fences), Seq("event_type"))
      .withColumn("bin", (1 to 9).map(j =>
        when(col("value") > col(s"f$j"), 1).otherwise(0)).reduce(_ + _) + lit(1))
    val counts = binned.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("half") === "ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("half") === "cur", 1L).otherwise(0L)).as("n_cur"))
    // fixed 10-bin spine per type: an empty bin on either side is a
    // drift FACT (maximum-signal cell), not an absent row
    val spine = counts.select(col("event_type")).distinct()
      .withColumn("bin", explode(sequence(lit(1), lit(10))))
    val cells = spine.join(counts, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    cells
      .withColumn("t_ref", sum(col("n_ref")).over(w))
      .withColumn("t_cur", sum(col("n_cur")).over(w))
      .withColumn("p_ref", (col("n_ref") + 1) / (col("t_ref") + 10).cast("double"))
      .withColumn("p_cur", (col("n_cur") + 1) / (col("t_cur") + 10).cast("double"))
      .withColumn("cell", (col("p_ref") - col("p_cur")) * log(col("p_ref") / col("p_cur")))
      .select(col("event_type"), col("bin"), col("n_ref"), col("n_cur"),
        round(col("p_ref"), 6).as("p_ref"),
        round(col("p_cur"), 6).as("p_cur"),
        round(col("cell"), 6).as("psi_cell"),
        round(sum(col("cell")).over(w), 6).as("psi_total"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** EWMA trailing smoothing (A23, r4): per event type, the
    * exponentially weighted moving average of the hourly event count
    * over a trailing 24-hour horizon with half-life-1h decay — the
    * burst-smoothing view an alerting pipeline reads instead of raw
    * counts. The decay is 0.5^Δh, deliberately DYADIC: every weight,
    * every product (count < 2^13 times 2^-k), and every partial sum
    * (scales span 36 < 53 mantissa bits) is an EXACTLY representable
    * double, so the whole aggregation is order-independent and
    * bit-identical cross-engine with no rounding contract needed —
    * only the final division rounds, identically on both. Shape: the
    * hourly rollup is the ONLY pass that sees event volume; the
    * trailing window is a band self-join of that tiny series with
    * itself ([[graft.ops.Joins]]' range shape on a span×types
    * relation), so at 100 TB the analytic join costs nothing. Gaps
    * collapse (observed-series convention, like [[autocorrCore]]):
    * missing hours contribute no weight rather than a zero sample. */
  def ewma(s: SparkSession, d: String): DataFrame =
    ewmaCore(Tables.events(s, d).select(col("event_type"), col("ts")))

  /** EWMA over any `(event_type, ts)` relation — DataFrame-
    * parameterized so AnalyticsSpec can pin the dyadic arithmetic and
    * the 24-hour horizon cutoff by hand. */
  def ewmaCore(ev: DataFrame): DataFrame = {
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hr", (unix_micros(col("h")) / lit(3600000000L)).cast("long"))
    val t = hourly.select(col("event_type"), col("h"), col("hr"), col("n"))
    val past = hourly.select(col("event_type").as("s_type"),
      col("hr").as("s_hr"), col("n").as("s_n"))
    t.join(past,
        col("event_type") === col("s_type") &&
          col("s_hr") <= col("hr") && col("s_hr") >= col("hr") - 23)
      .groupBy(col("event_type"), col("h"), col("n"))
      .agg((sum(col("s_n") * pow(lit(0.5), col("hr") - col("s_hr"))) /
        sum(pow(lit(0.5), col("hr") - col("s_hr")))).as("ewma_raw"))
      .select(col("event_type"), col("h"), col("n"),
        round(col("ewma_raw"), 6).as("ewma"))
      .orderBy(col("event_type"), col("h"))
  }

  /** Quantile normalization (A24, r4): map every event type's value
    * distribution onto the 'view' type's distribution by rank — the
    * feature-preprocessing step that makes heterogeneous sources
    * comparable (microarray normalization's trick, standard in
    * feature stores). Each row's rank in its own type (total order
    * via (value, event_id)) maps to the reference value at the
    * ceiling-scaled rank `(rn·n_ref + n − 1) div n` — ALL-INTEGER
    * arithmetic (products < 2^53 up to ~10^8-row types; past that,
    * swap in a 128-bit mul), so the mapping is bit-identical
    * cross-engine and the mapped value IS a reference data value.
    * The reference type maps to itself identically (spec-pinned).
    * Two rank windows + one join keyed on the target index. */
  def quantileNorm(s: SparkSession, d: String): DataFrame =
    quantileNormCore(Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value")))

  /** Normalization over any `(event_type, event_id, value)` relation —
    * DataFrame-parameterized so AnalyticsSpec can pin the ceiling-rank
    * mapping and the reference identity by hand. */
  def quantileNormCore(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          // asc_nulls_last: match DuckDB's NULLS LAST default so a
          // nullable value vintage keeps the rank total order aligned
          // cross-engine (r4 advice)
          .orderBy(col("value").asc_nulls_last, col("event_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val view = ranked.filter(col("event_type") === "view")
    val ref = view.select(col("rn").as("ref_rn"), col("value").as("mapped"))
    val nref = view.agg(max(col("n")).as("n_ref"))
    ranked.crossJoin(broadcast(nref))
      .join(ref, expr("(rn * n_ref + n - 1) div n") === col("ref_rn"))
      .select(col("event_type"), col("event_id"), col("value"), col("mapped"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Table profile (A25, r4): the per-column summary a data engineer
    * prints before touching a new table — rows, nulls, distincts, and
    * min/max per column — [[dqAudit]]'s exploratory sibling (audit
    * checks KNOWN constraints; profile discovers them). One 1-row
    * aggregate PER COLUMN unioned into the report, so every scan
    * prunes to a single column (the columnar win; a single all-column
    * aggregate with six countDistincts would Expand the fact table
    * 6×). Numeric/timestamp extremes stay NUMERIC (timestamps as
    * exact epoch micros) and string extremes stay STRING — engines
    * disagree on double→text rendering, so nothing numeric is ever
    * stringified. */
  def profile(s: SparkSession, d: String): DataFrame =
    profileCore(Tables.events(s, d))

  /** Profile over any events-shaped relation — DataFrame-
    * parameterized so AnalyticsSpec can plant nulls and duplicates
    * and watch exactly the right cells move. */
  def profileCore(ev: DataFrame): DataFrame = {
    def num(c: String, e: Column): DataFrame = ev.agg(
      lit(c).as("col_name"), count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(e)).as("n_null"),
      countDistinct(e).as("n_distinct"),
      min(e).cast("double").as("min_num"), max(e).cast("double").as("max_num"),
      lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str"))
    def str(c: String): DataFrame = ev.agg(
      lit(c).as("col_name"), count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col(c))).as("n_null"),
      countDistinct(col(c)).as("n_distinct"),
      lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
      min(col(c)).as("min_str"), max(col(c)).as("max_str"))
    num("event_id", col("event_id"))
      .unionByName(num("ts", unix_micros(col("ts"))))
      .unionByName(num("user_id", col("user_id")))
      .unionByName(str("event_type"))
      .unionByName(num("value", col("value")))
      .unionByName(str("props"))
      .orderBy(col("col_name"))
  }

  /** TPC-H Q7-shaped volume shipping between two nations: revenue
    * flowing supplier-nation → customer-nation per ship year, both
    * directions of the NATION_3/NATION_7 pair. The scale-critical
    * move is pruning BEFORE the facts: supplier and customer are each
    * pre-joined to the 2-row nation slice, so only the ~2/25 of keys
    * that can possibly qualify enter the lineitem/orders shuffles —
    * the pruned supplier key set broadcasts into lineitem and the
    * pruned customer set broadcasts into orders. The OR-of-pairs
    * filter lands on two tiny joined columns, never on a fact scan. */
  def tpchVolumeShipping(s: SparkSession, d: String): DataFrame = {
    val pair = Seq("NATION_3", "NATION_7")
    val nations = Tables.nation(s, d)
      .filter(col("n_name").isin(pair: _*))
      .select("n_nationkey", "n_name")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(year(col("l_shipdate")).between(1996, 1997))
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      // exact-money longs (r8 promo-class audit; see aggBasic)
      .withColumn("rev_e4",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(sum(col("rev_e4")).as("rev_e4"), count(lit(1)).as("n_items"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        round(col("rev_e4") / 10000.0, 4).as("revenue"), col("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8-shaped market share: within the AMERICA customer market
    * and the STANDARD part segment, NATION_5-supplied revenue share
    * per order year. Both "who buys" (region via customer) and "what"
    * (part type) prune fact input before the shuffles; "who supplies"
    * (the share split) must NOT prune — every supplier's revenue is
    * the denominator — so the supplier-nation tag rides a broadcast
    * dim join and the share is a conditional aggregate. Numerator and
    * denominator are exact 10⁻⁴-unit long sums (r8 promo-class
    * audit); the share is one division of the exact longs, rounded
    * at 6. */
  def tpchMarketShare(s: SparkSession, d: String): DataFrame = {
    val americaCust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(s, d)
          .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "AMERICA")
          .select(col("n_nationkey").as("cn_key"))),
        col("c_nationkey") === col("cn_key"))
      .select("c_custkey")
    val suppNation = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val stdParts = Tables.part(s, d)
      .filter(col("p_type") === "STANDARD").select("p_partkey")
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      .join(broadcast(stdParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
          .join(americaCust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      // exact-money longs: numerator and denominator sum exactly, the
      // share divides the exact longs (r8 promo-class audit)
      .withColumn("rev_e4", round(rev * 10000).cast("long"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", col("rev_e4"))
          .otherwise(0L)).as("nation_e4"),
        sum(col("rev_e4")).as("total_e4"),
        count(lit(1)).as("n_items"))
      .select(col("o_year"),
        round(col("nation_e4") / 10000.0, 4).as("nation_rev"),
        round(col("total_e4") / 10000.0, 4).as("total_rev"),
        col("n_items"),
        round(col("nation_e4").cast("double") / col("total_e4"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9-shaped product-line profit: per supplier nation and
    * order year, profit over "%widget%" parts. The harness schema has
    * no partsupp, so supply cost is defined as 60% of p_retailprice —
    * the Q9 SHAPE (name-LIKE part prune, profit = revenue − cost·qty,
    * nation×year rollup) is what's exercised, not the TPC-H numbers.
    * The LIKE prune broadcasts into lineitem ahead of the orders
    * shuffle; l_quantity is integral so cost·qty keeps milli
    * precision, and profit sums as exact 10⁻⁴-unit longs (r8). */
  def tpchProfit(s: SparkSession, d: String): DataFrame = {
    val widget = Tables.part(s, d)
      .filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNation = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(broadcast(widget), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      // exact-money longs: per-line profit sits on the 10⁻⁴ grid
      // (rev is 4-decimal; 0.6·price·qty is 3-decimal), so the
      // per-row round is deterministic and the longs sum exactly
      // (r8 promo-class audit; see aggBasic)
      .withColumn("profit_e4",
        round((col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          lit(0.6) * col("p_retailprice") * col("l_quantity")) * 10000)
          .cast("long"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(sum(col("profit_e4")).as("profit_e4"), count(lit(1)).as("n_items"))
      .select(col("nation"), col("o_year"),
        round(col("profit_e4") / 10000.0, 4).as("profit"), col("n_items"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q15-shaped top supplier(s): suppliers whose revenue over
    * one ship quarter equals the global maximum. Revenue is summed as
    * EXACT integer cents (doubles differ by accumulation order across
    * engines, and max-equality amplifies any divergence into a
    * row-set change), so the max comparison is exact on both engines.
    * The max itself is a 1-row aggregate of the per-supplier rollup,
    * broadcast back via cross join (r12, guide §2: the r11
    * unpartitioned-window form moved every supplier row — supplier
    * count scales with SF — through one WindowExec task; the
    * aggregate keeps map-side partials and ships one row). The rollup
    * is materialized once (checkpoint leaf): its two consumers (max
    * and the equality filter) canonicalize UNEQUALLY — the join
    * branch carries an inferred isnotnull(l_suppkey) — so exchange
    * reuse can't fire and the naive form scanned lineitem twice. */
  /** The one-pass-over-lineitem rollup behind [[tpchTopSupplier]] —
    * exposed so PlanSpec can pin the ship-quarter pushdown on the
    * plan that actually scans the facts (the declared query reads the
    * rollup's checkpoint leaf, so its own plan has no lineitem scan). */
  private[graft] def topSupplierRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"))
      .groupBy(col("l_suppkey"))
      .agg((sum(col("rev")) * 10000).cast("long").as("rev_e4"))

  def tpchTopSupplier(s: SparkSession, d: String): DataFrame = {
    val perSupp = Iterate.leaf(topSupplierRollup(s, d))
    perSupp
      .crossJoin(broadcast(perSupp.agg(max(col("rev_e4")).as("max_rev_e4"))))
      .filter(col("rev_e4") === col("max_rev_e4"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_e4"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17-shaped small-quantity revenue: lineitems of Brand#12
    * parts whose quantity sits below 20% of that part's average
    * quantity — the per-group scalar-subquery shape, planned as ONE
    * window over the brand-pruned slice instead of a re-aggregating
    * self-join. l_quantity is integral, so the threshold compare is
    * exact cross-multiplied integer math (5·qty·n < Σqty): no
    * double average ever exists to diverge between engines. The
    * brand prune broadcasts into lineitem, so at 100 TB the window
    * partitions only the ~1/25 brand slice. */
  def tpchSmallQty(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val brand = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#12").select("p_partkey")
    val perPart = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .withColumn("sum_qty", sum(col("l_quantity").cast("long")).over(perPart))
      .withColumn("n_li", count(lit(1)).over(perPart))
      .filter(col("l_quantity").cast("long") * 5 * col("n_li") < col("sum_qty"))
      // exact-money: 2-decimal prices sum as exact cent longs; the /7
      // and display round act once on the exact total (r8 audit)
      .withColumn("price_e2", round(col("l_extendedprice") * 100).cast("long"))
      .agg(
        sum(col("price_e2")).as("price_e2"),
        count(lit(1)).as("n_small"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .select(round(col("price_e2") / 100.0 / 7.0, 4).as("avg_yearly"),
        col("n_small"), col("n_parts"))
  }

  /** TPC-H Q11-shaped important part value (SURVEY J27): parts whose
    * stock value for one nation's suppliers exceeds a fixed fraction
    * of that slice's total. No partsupp in the harness schema, so
    * "stock value" is the lineitem-observed value (price cents ×
    * integral quantity) — the Q11 SHAPE is what's exercised: a keyed
    * rollup gated by a GLOBAL scalar over the same rollup. The total
    * is an agg-over-agg of the identical subplan, so Catalyst reuses
    * the rollup exchange (ReusedExchange — same pattern PlanSpec pins
    * for q_ewma) instead of re-scanning lineitem; the 1-row total
    * broadcasts back. The threshold compares CROSS-MULTIPLIED exact
    * integers (val·400 > total) — no double division to straddle a
    * boundary cross-engine. At 100 TB the only wide op is the one
    * partkey shuffle of the nation-pruned slice; never an
    * unpartitioned window over the per-part rollup (parts are
    * unbounded — that would be a single-task killer). */
  def tpchPartValue(s: SparkSession, d: String): DataFrame = {
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val vals = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"),
        (expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)") *
          col("l_quantity").cast("long")).as("v"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("v")).as("val_cents"))
    val tot = vals.agg(sum(col("val_cents")).as("tot_cents"))
    vals.crossJoin(broadcast(tot))
      .filter(col("val_cents") * 400 > col("tot_cents"))
      .select(col("l_partkey").as("p_partkey"), col("val_cents"))
      .orderBy(col("p_partkey"))
  }

  /** TPC-H Q12-shaped late-shipment priority mix (SURVEY J28): among
    * 1997 lineitems shipped more than 90 days after their order date,
    * how many belong to high- vs low-priority orders, per return
    * flag. (No l_shipmode/commit/receipt columns in the harness
    * schema — ship-latency over o_orderdate carries the same
    * "date-ordering predicate rides the join" contract.) The ship
    * window is an explicit range so it folds onto the lineitem scan
    * (year(ts) would not push); the +90d inequality references both
    * sides so it evaluates as a residual on the FK join; the output
    * is a ≤|flags|-row conditional two-bucket count — exact integers,
    * no rounding contract. */
  def tpchLateShip(s: SparkSession, d: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q16-shaped supplier count per part attribute (SURVEY J29):
    * distinct suppliers per (brand, type, size) over a
    * negative-attribute part slice, EXCLUDING suppliers matching a
    * complaint predicate — the NOT IN contract: planned as a
    * broadcast left-anti join (never a per-row subquery), with the
    * caveat NOT IN demands (a NULL-valued exclusion list would make
    * NOT IN empty; s_suppkey is a non-null PK, and the oracle states
    * the same NOT IN so both engines agree on the semantics). The
    * part slice broadcasts into lineitem before the rollup; the
    * count-distinct pays one Expand over the pruned slice only. */
  def tpchSuppCnt(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "ECONOMY" &&
        col("p_size").isin(5, 15, 25, 35, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val excluded = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0.0).select("s_suppkey")
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20-shaped excess-shipment suppliers (SURVEY J30): one
    * nation's suppliers who, for some name-LIKE part, shipped more in
    * 1998 than half that (part, supplier) pair's all-time quantity.
    * The nested-IN chain plans as semi-join stages: the LIKE slice
    * broadcasts into lineitem BEFORE the pair rollup (only qualifying
    * parts enter the one (suppkey, partkey) shuffle), the per-pair
    * threshold is a conditional sum inside that single rollup (the
    * correlated "half their stock" subquery folded into one grouped
    * pass — no per-pair probe), and the surviving suppkeys left-semi
    * into the nation-pruned supplier dim. Quantities are integral →
    * the comparison is exact cross-multiplied integers (y·2 > total,
    * which also implies y > 0). */
  def tpchExcess(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .filter(col("p_name").like("red%")).select("p_partkey")
    val in98 = col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1999-01-01").cast("timestamp")
    val heavy = Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(
        sum(when(in98, col("l_quantity").cast("long")).otherwise(0L)).as("y_qty"),
        sum(col("l_quantity").cast("long")).as("tot_qty"))
      .filter(col("y_qty") * 2 > col("tot_qty"))
      .select("l_suppkey")
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_1")),
        col("s_nationkey") === col("n_nationkey"))
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      // s_suppkey closes the total order over ScaleUp shard clones,
      // which share s_name (r8 sf1 gate finding; see tpchWaiting)
      .orderBy(col("s_name"), col("s_suppkey"))
  }

  /** TPC-H Q21-shaped waiting-on-supplier count (SURVEY J31): for one
    * nation's suppliers, late lines (shipped >90 days after order
    * date) on finished multi-supplier orders where this supplier was
    * the ONLY late one. Q21's textbook form is two lineitem
    * self-joins (EXISTS + NOT EXISTS); at 100 TB that is two extra
    * full-fact shuffles, so the engine folds both into per-order
    * aggregates instead: ONE (orderkey, suppkey) rollup (late-line
    * count per pair), then an order-level reduction (supplier count /
    * late-supplier count / the sole late suppkey) — the EXISTS
    * becomes `n_supp > 1`, the NOT EXISTS becomes `n_late_supp = 1`,
    * and `max(when(late, suppkey))` is exact because the filter pins
    * a single late supplier. The oracle states the original
    * correlated EXISTS/NOT EXISTS form; matching it proves the
    * rewrite. numwait counts late LINES (Q21's l1 multiplicity), not
    * orders. */
  def tpchWaiting(s: SparkSession, d: String): DataFrame = {
    val perPair = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
        .otherwise(0L)).as("late_lines"))
    val perOrder = perPair
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supp"),
        sum(when(col("late_lines") > 0, 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("late_lines") > 0, col("l_suppkey"))).as("late_supp"),
        sum(col("late_lines")).as("order_late_lines"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
    perOrder
      .join(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_name"),
        col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(sum(col("order_late_lines")).as("numwait"))
      // s_suppkey closes the total order: the r8 sf1 gate caught the
      // (numwait, s_name) sort flapping between ScaleUp shard clones,
      // which share s_name by construction (crawl-style duplication)
      .orderBy(col("numwait").desc, col("s_name"), col("s_suppkey"))
  }

  /** Pure SQL-text face (§2.6): the same engine driven through
    * `spark.sql` over registered temp views — proof the library's
    * surface is not DataFrame-only (a reference user migrating SQL
    * text runs it verbatim; Catalyst plans THE SAME broadcast-join +
    * pushed-filter shape either way, which is the point of a
    * declarative engine). The one declared SQL-face query keeps the
    * family's determinism contract (round-after-sum, total-order
    * ORDER BY). */
  def sqlFace(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    Tables.part(s, d).createOrReplaceTempView("part_v")
    // exact-money longs in the SQL text too (r8 promo-class audit);
    // the sum casts to DOUBLE before the division — Spark's SQL
    // parser types a bare 10000.0 literal DECIMAL(5,1) and would
    // otherwise return DECIMAL(26,4) where the oracle returns DOUBLE
    s.sql("""SELECT p_brand, count(*) AS n_items,
        round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS revenue
        FROM lineitem_v JOIN part_v ON l_partkey = p_partkey
        WHERE p_size <= 10
        GROUP BY p_brand ORDER BY p_brand""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_face"          -> sqlFace,
    "q_profile"           -> profile,
    "q_quantile_norm"     -> quantileNorm,
    "q_psi_drift"         -> psiDrift,
    "q_ewma"              -> ewma,
    "q_skew_profile"      -> skewProfile,
    "q_autocorr"          -> autocorr,
    "q_chisq"             -> chisq,
    "q_winsorize"         -> winsorize,
    "q_unpivot"           -> unpivotMeasures,
    "q_welch"             -> welch,
    "q_dq_audit"          -> dqAudit,
    "q_cusum"             -> cusum,
    "q_gini"              -> gini,
    "q_skyline"           -> skyline,
    "q_abc_class"         -> abcClass,
    "q_equidepth_hist"    -> equidepthHist,
    "q_mad_outliers"      -> madOutliers,
    "q_regression"        -> regression,
    "q_agg_stats"         -> aggStats,
    "q_agg_collect"       -> aggCollect,
    "q_agg_salted"        -> aggSalted,
    "q_agg_approx"        -> aggApprox,
    "q_agg_approx_exact"  -> aggApproxExact,
    "q_hll_distinct"      -> hllDistinct,
    "q_hll_groups"        -> hllGroups,
    "q_hll_merge"         -> hllMerge,
    "q_pivot"             -> pivot,
    "q_join_cross"        -> joinCross,
    "q_sample"            -> sample,
    "q_aqp_groupby"       -> aqpGroupby,
    "q_sample_stratified" -> sampleStratified,
    "q_sort_export"       -> sortExport,
    "q_filter_predicates" -> filterPredicates,
    "q_agg_basic"         -> aggBasic,
    "q_agg_distinct"      -> aggDistinct,
    "q_join_inner"        -> joinInner,
    "q_join_inner_bucketed" -> joinInnerBucketed,
    "q_join_broadcast"    -> joinBroadcast,
    "q_tpch_regional"     -> tpchRegional,
    "q_tpch_priority"     -> tpchPriority,
    "q_tpch_returned"     -> tpchReturned,
    "q_tpch_disjunct"     -> tpchDisjunct,
    "q_tpch_churn"        -> tpchChurn,
    "q_tpch_mincost"      -> tpchMinCost,
    "q_tpch_custdist"     -> tpchCustDist,
    "q_tpch_forecast"     -> tpchForecast,
    "q_tpch_volume"       -> tpchVolumeShipping,
    "q_tpch_mktshare"     -> tpchMarketShare,
    "q_tpch_profit"       -> tpchProfit,
    "q_tpch_topsupplier"  -> tpchTopSupplier,
    "q_tpch_smallqty"     -> tpchSmallQty,
    "q_tpch_partvalue"    -> tpchPartValue,
    "q_tpch_lateship"     -> tpchLateShip,
    "q_tpch_suppcnt"      -> tpchSuppCnt,
    "q_tpch_excess"       -> tpchExcess,
    "q_tpch_waiting"      -> tpchWaiting,
    "q_quantiles"         -> quantiles,
    "q_quantile_sketch"   -> quantileSketch,
    "q_iqr_outliers"      -> iqrOutliers,
    "q_tpch_shipping"     -> tpchShipping,
    "q_tpch_promo"        -> tpchPromo,
    "q_tpch_bigorders"    -> tpchBigOrders,
    "q_yoy_growth"        -> yoyGrowth,
    "q_correlated_avg"    -> correlatedAvg,
    "q_topk"              -> topk,
    "q_set_ops"           -> setOps,
  )

  /** DuckDB oracle SQL — same table names, same aliases, same ORDER BY.
    * (q_agg_approx is sketch-based → golden-bounded in tests instead.) */
  val oracles: Map[String, String] = Map(
    // same per-column 1-row aggregates, numeric extremes stay numeric
    // (timestamps as epoch micros), string extremes stay string
    "q_profile" ->
      """WITH n AS (SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
             CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
             CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM events
           UNION ALL SELECT 'ts', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(ts) AS BIGINT),
             CAST(count(DISTINCT epoch_us(ts)) AS BIGINT),
             CAST(min(epoch_us(ts)) AS DOUBLE), CAST(max(epoch_us(ts)) AS DOUBLE),
             NULL, NULL FROM events
           UNION ALL SELECT 'user_id', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(user_id) AS BIGINT),
             CAST(count(DISTINCT user_id) AS BIGINT),
             CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
             NULL, NULL FROM events
           UNION ALL SELECT 'event_type', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(event_type) AS BIGINT),
             CAST(count(DISTINCT event_type) AS BIGINT),
             NULL, NULL, min(event_type), max(event_type) FROM events
           UNION ALL SELECT 'value', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(value) AS BIGINT),
             CAST(count(DISTINCT value) AS BIGINT),
             min(value), max(value), NULL, NULL FROM events
           UNION ALL SELECT 'props', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(props) AS BIGINT),
             CAST(count(DISTINCT props) AS BIGINT),
             NULL, NULL, min(props), max(props) FROM events)
         SELECT * FROM n ORDER BY col_name""",
    // same (value, event_id) total order, same all-integer ceiling
    // rank scaling, same reference join
    "q_quantile_norm" ->
      """WITH r AS (SELECT event_type, event_id, value,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY value NULLS LAST, event_id) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         nr AS (SELECT count(*) AS n_ref FROM events WHERE event_type = 'view'),
         ref AS (SELECT rn AS ref_rn, value AS mapped FROM r WHERE event_type = 'view')
         SELECT event_type, event_id, r.value, ref.mapped
         FROM r CROSS JOIN nr
         JOIN ref ON (r.rn * nr.n_ref + r.n - 1) // r.n = ref.ref_rn
         ORDER BY event_type, event_id""",
    // same midpoint split, same rank-and-filter decile fences, same
    // Laplace-smoothed shares over the fixed 10-bin spine
    "q_psi_drift" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
         m AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev),
         st AS (SELECT event_type, value,
             CASE WHEN us <= mid_us THEN 'ref' ELSE 'cur' END AS half
           FROM ev CROSS JOIN m),
         rk AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value NULLS LAST) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM st WHERE half = 'ref'),
         f AS (SELECT event_type,
             max(CASE WHEN rn = ceil(n * 1 / 10.0) THEN value END) AS f1,
             max(CASE WHEN rn = ceil(n * 2 / 10.0) THEN value END) AS f2,
             max(CASE WHEN rn = ceil(n * 3 / 10.0) THEN value END) AS f3,
             max(CASE WHEN rn = ceil(n * 4 / 10.0) THEN value END) AS f4,
             max(CASE WHEN rn = ceil(n * 5 / 10.0) THEN value END) AS f5,
             max(CASE WHEN rn = ceil(n * 6 / 10.0) THEN value END) AS f6,
             max(CASE WHEN rn = ceil(n * 7 / 10.0) THEN value END) AS f7,
             max(CASE WHEN rn = ceil(n * 8 / 10.0) THEN value END) AS f8,
             max(CASE WHEN rn = ceil(n * 9 / 10.0) THEN value END) AS f9
           FROM rk GROUP BY event_type),
         b AS (SELECT st.event_type,
             CASE WHEN value > f1 THEN 1 ELSE 0 END + CASE WHEN value > f2 THEN 1 ELSE 0 END +
             CASE WHEN value > f3 THEN 1 ELSE 0 END + CASE WHEN value > f4 THEN 1 ELSE 0 END +
             CASE WHEN value > f5 THEN 1 ELSE 0 END + CASE WHEN value > f6 THEN 1 ELSE 0 END +
             CASE WHEN value > f7 THEN 1 ELSE 0 END + CASE WHEN value > f8 THEN 1 ELSE 0 END +
             CASE WHEN value > f9 THEN 1 ELSE 0 END + 1 AS bin, half
           FROM st JOIN f ON st.event_type = f.event_type),
         c AS (SELECT event_type, bin,
             CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
           FROM b GROUP BY event_type, bin),
         spine AS (SELECT event_type, CAST(unnest(generate_series(1, 10)) AS INT) AS bin
           FROM (SELECT DISTINCT event_type FROM c)),
         cells AS (SELECT spine.event_type, spine.bin,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
           FROM spine LEFT JOIN c ON spine.event_type = c.event_type AND spine.bin = c.bin),
         t AS (SELECT event_type, bin, n_ref, n_cur,
             sum(n_ref) OVER (PARTITION BY event_type) AS t_ref,
             sum(n_cur) OVER (PARTITION BY event_type) AS t_cur
           FROM cells),
         p AS (SELECT event_type, bin, n_ref, n_cur,
             (n_ref + 1) / CAST(t_ref + 10 AS DOUBLE) AS p_ref,
             (n_cur + 1) / CAST(t_cur + 10 AS DOUBLE) AS p_cur
           FROM t)
         SELECT event_type, bin, n_ref, n_cur,
           round(p_ref, 6) AS p_ref, round(p_cur, 6) AS p_cur,
           round((p_ref - p_cur) * ln(p_ref / p_cur), 6) AS psi_cell,
           round(sum((p_ref - p_cur) * ln(p_ref / p_cur))
             OVER (PARTITION BY event_type), 6) AS psi_total
         FROM p ORDER BY event_type, bin""",
    // same hourly rollup, same dyadic 0.5^Δh weights over the same
    // 24-hour band self-join
    "q_ewma" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         hr AS (SELECT event_type, h, n, epoch_us(h) // 3600000000 AS hr FROM hourly)
         SELECT t.event_type, t.h, t.n,
           round(sum(s.n * pow(0.5, t.hr - s.hr)) / sum(pow(0.5, t.hr - s.hr)), 6) AS ewma
         FROM hr t JOIN hr s
           ON s.event_type = t.event_type AND s.hr <= t.hr AND s.hr >= t.hr - 23
         GROUP BY t.event_type, t.h, t.n
         ORDER BY t.event_type, t.h""",
    "q_skew_profile" ->
      """WITH counts AS (SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
         g AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt FROM counts),
         top AS (SELECT k, cnt FROM counts ORDER BY cnt DESC, k LIMIT 10),
         w AS (SELECT k, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, k) AS INT) AS rk,
             CAST(sum(cnt) OVER (ORDER BY cnt DESC, k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
           FROM top)
         SELECT rk, k, cnt,
           round(cnt / CAST(n_rows AS DOUBLE), 6) AS share,
           round(cum_cnt / CAST(n_rows AS DOUBLE), 6) AS cum_share,
           n_keys,
           round(max_cnt * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew_ratio
         FROM w CROSS JOIN g ORDER BY rk""",
    // same hourly rollup, same rounded-moment lockstep, same
    // null-skipping lag partners
    "q_autocorr" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h,
                  CAST(count(*) AS DOUBLE) AS x
           FROM events GROUP BY event_type, date_trunc('hour', ts)),
         s AS (
           SELECT event_type, h,
                  x - sum(x) OVER (PARTITION BY event_type)
                      / count(*) OVER (PARTITION BY event_type) AS d
           FROM hourly),
         l AS (
           SELECT event_type, d,
                  lag(d, 1) OVER (PARTITION BY event_type ORDER BY h) AS d1,
                  lag(d, 2) OVER (PARTITION BY event_type ORDER BY h) AS d2,
                  lag(d, 3) OVER (PARTITION BY event_type ORDER BY h) AS d3
           FROM s),
         m AS (
           SELECT event_type, count(*) AS n_hours,
                  round(avg(d * d), 6) AS c0, round(avg(d * d1), 6) AS c1,
                  round(avg(d * d2), 6) AS c2, round(avg(d * d3), 6) AS c3
           FROM l GROUP BY event_type)
         SELECT event_type, n_hours,
                round(c1 * (n_hours - 1) / (c0 * n_hours), 6) AS r1,
                round(c2 * (n_hours - 2) / (c0 * n_hours), 6) AS r2,
                round(c3 * (n_hours - 3) / (c0 * n_hours), 6) AS r3
         FROM m ORDER BY event_type""",
    // exact-integer expected products, same per-cell closed form;
    // dof from scalar distinct counts
    "q_chisq" ->
      """WITH obs AS (
           SELECT lang AS a, source AS b, count(*) AS n
           FROM documents GROUP BY lang, source),
         grid AS (
           SELECT a, b FROM (SELECT DISTINCT a FROM obs)
           CROSS JOIN (SELECT DISTINCT b FROM obs)),
         dense AS (
           SELECT grid.a, grid.b, coalesce(obs.n, 0) AS n
           FROM grid LEFT JOIN obs USING (a, b)),
         x AS (
           SELECT a, b, n,
                  CAST(sum(n) OVER (PARTITION BY a) AS DOUBLE) AS rt,
                  CAST(sum(n) OVER (PARTITION BY b) AS DOUBLE) AS ct,
                  CAST(sum(n) OVER () AS DOUBLE) AS tot
           FROM dense),
         c AS (
           SELECT a, b, n, rt * ct / tot AS e,
                  (n - rt * ct / tot) * (n - rt * ct / tot)
                    / (rt * ct / tot) AS contrib
           FROM x)
         SELECT a AS lang, b AS source, n,
                round(e, 4) AS expected, round(contrib, 6) AS contrib,
                round(sum(contrib) OVER (), 4) AS chisq,
                CAST(((SELECT count(DISTINCT lang) FROM documents) - 1)
                   * ((SELECT count(DISTINCT source) FROM documents) - 1)
                   AS BIGINT) AS dof
         FROM c ORDER BY lang, source""",
    // same rank-and-filter discrete fences, same clip comparisons
    "q_winsorize" ->
      """WITH r AS (
           SELECT l_returnflag AS grp, l_extendedprice AS v FROM lineitem),
         k AS (
           SELECT grp, v,
                  row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
                  count(*) OVER (PARTITION BY grp) AS n
           FROM r),
         f AS (
           SELECT grp,
                  max(CASE WHEN rn = ceil(n * 0.05) THEN v END) AS p05,
                  max(CASE WHEN rn = ceil(n * 0.95) THEN v END) AS p95
           FROM k GROUP BY grp)
         SELECT r.grp, CAST(count(*) AS BIGINT) AS n,
                round(max(f.p05), 2) AS p05, round(max(f.p95), 2) AS p95,
                CAST(sum(CASE WHEN r.v < f.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
                CAST(sum(CASE WHEN r.v > f.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
                round(avg(r.v), 4) AS mean_raw,
                round(avg(least(greatest(r.v, f.p05), f.p95)), 4) AS mean_wins
         FROM r JOIN f ON r.grp = f.grp
         GROUP BY r.grp ORDER BY r.grp""",
    // same rounded moments (the regression lockstep rule), same
    // Welch closed form over the bounded pair grid
    "q_welch" ->
      """WITH m AS (
           SELECT event_type, count(*) AS n,
                  round(avg(value), 4) AS mean,
                  round(var_samp(value), 4) AS s2
           FROM events GROUP BY event_type)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                a.n AS na, b.n AS nb,
                round((a.mean - b.mean)
                      / sqrt(a.s2 / a.n + b.s2 / b.n), 4) AS t,
                round(pow(a.s2 / a.n + b.s2 / b.n, 2)
                      / (pow(a.s2 / a.n, 2) / (a.n - 1)
                         + pow(b.s2 / b.n, 2) / (b.n - 1)), 2) AS df
         FROM m a CROSS JOIN m b
         WHERE a.event_type < b.event_type
         ORDER BY type_a, type_b""",
    // six 1-row rule aggregates unioned; HUGEINT arithmetic cast back
    "q_dq_audit" ->
      """SELECT 'customer_segment_notnull' AS rule,
                count(*) AS n_checked,
                CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) = 0 AS pass
         FROM customer
         UNION ALL
         SELECT 'documents_nchars_consistent', count(*),
                CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT),
                sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) = 0
         FROM documents
         UNION ALL
         SELECT 'events_value_nonneg', count(*),
                CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
                sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0
         FROM events
         UNION ALL
         SELECT 'lineitem_fk_orders',
                (SELECT count(*) FROM lineitem),
                (SELECT count(*) FROM lineitem l LEFT JOIN orders o
                  ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL),
                (SELECT count(*) FROM lineitem l LEFT JOIN orders o
                  ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0
         UNION ALL
         SELECT 'orders_fk_customer',
                (SELECT count(*) FROM orders),
                (SELECT count(*) FROM orders o LEFT JOIN customer c
                  ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL),
                (SELECT count(*) FROM orders o LEFT JOIN customer c
                  ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0
         UNION ALL
         SELECT 'orders_pk_unique', count(*),
                count(*) - count(DISTINCT o_orderkey),
                count(*) - count(DISTINCT o_orderkey) = 0
         FROM orders
         ORDER BY rule""",
    // same ordered running sum (bit-identical in window order), same
    // (|cusum| desc, hour) peak tiebreak
    "q_cusum" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         c AS (
           SELECT event_type, h, n,
                  CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)
                    / count(*) OVER (PARTITION BY event_type) AS mean_n,
                  count(*) OVER (PARTITION BY event_type) AS n_hours
           FROM hourly),
         cs AS (
           SELECT event_type, h, n_hours,
                  sum(n - mean_n) OVER (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
           FROM c)
         SELECT event_type, n_hours, h AS peak_hour, round(cusum, 4) AS peak_cusum
         FROM cs
         QUALIFY row_number() OVER (PARTITION BY event_type
                                    ORDER BY abs(cusum) DESC, h) = 1
         ORDER BY event_type""",
    // same rank formula, same (value, event_id) total order, same
    // zero-total NULL guard
    "q_gini" ->
      """WITH r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value NULLS LAST, event_id) AS i
           FROM events)
         SELECT event_type, count(*) AS n, round(sum(value), 2) AS total,
                round(CASE WHEN sum(value) > 0 THEN
                  2.0 * sum(i * value) / (count(*) * sum(value))
                    - CAST(count(*) + 1 AS DOUBLE) / count(*)
                END, 6) AS gini
         FROM r GROUP BY event_type ORDER BY event_type""",
    // same tie-collapse to (price, max qty), same strict running-max test
    "q_skyline" ->
      """WITH pts AS (
           SELECT l_returnflag, l_extendedprice, max(l_quantity) AS l_quantity
           FROM lineitem GROUP BY 1, 2),
         r AS (
           SELECT l_returnflag, l_extendedprice, l_quantity,
                  max(l_quantity) OVER (PARTITION BY l_returnflag
                                        ORDER BY l_extendedprice DESC
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
           FROM pts)
         SELECT l_returnflag, l_extendedprice, l_quantity
         FROM r WHERE best IS NULL OR l_quantity > best
         ORDER BY l_returnflag, l_extendedprice""",
    // same exact-cent rollup, same (revenue desc, s_suppkey) total
    // order for the running sum, same cross-multiplied 70/90 cuts
    "q_abc_class" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS revenue_cents
           FROM lineitem GROUP BY l_suppkey),
         j AS (
           SELECT n_name, s_suppkey, revenue_cents
           FROM rev JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey),
         c AS (
           SELECT n_name, s_suppkey, revenue_cents,
                  sum(revenue_cents) OVER (PARTITION BY n_name
                    ORDER BY revenue_cents DESC, s_suppkey
                    ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(revenue_cents) OVER (PARTITION BY n_name) AS tot
           FROM j)
         SELECT n_name, s_suppkey, revenue_cents,
                CASE WHEN cum * 10 <= tot * 7 THEN 'A'
                     WHEN cum * 10 <= tot * 9 THEN 'B'
                     ELSE 'C' END AS cls
         FROM c ORDER BY n_name, s_suppkey""",
    // identical total order → identical ANSI ntile assignment
    "q_equidepth_hist" ->
      """WITH t AS (
           SELECT l_returnflag, l_extendedprice,
                  CAST(ntile(10) OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS INT) AS decile
           FROM lineitem)
         SELECT l_returnflag, decile, count(*) AS n,
                round(min(l_extendedprice), 2) AS lo,
                round(max(l_extendedprice), 2) AS hi,
                round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total
         FROM t GROUP BY 1, 2 ORDER BY l_returnflag, decile""",
    // same discrete rank-and-filter medians, same 3·1.4826 threshold
    "q_mad_outliers" ->
      """WITH ev AS (SELECT event_type, value FROM events),
         r1 AS (SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type ORDER BY value NULLS LAST) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM ev),
         med AS (SELECT event_type,
                        max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END) AS med
                 FROM r1 GROUP BY event_type),
         dev AS (SELECT ev.event_type, ev.value, med.med,
                        abs(ev.value - med.med) AS adev
                 FROM ev JOIN med USING (event_type)),
         r2 AS (SELECT event_type, adev,
                       row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM dev),
         mad AS (SELECT event_type,
                        max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN adev END) AS mad
                 FROM r2 GROUP BY event_type)
         SELECT dev.event_type, count(*) AS n,
                round(max(dev.med), 4) AS med, round(max(mad.mad), 4) AS mad,
                CAST(sum(CASE WHEN dev.adev > 3.0 * 1.4826 * mad.mad
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM dev JOIN mad USING (event_type)
         GROUP BY dev.event_type ORDER BY dev.event_type""",
    "q_unpivot" ->
      """WITH u AS (
           SELECT l_returnflag, l_linestatus, measure, val
           FROM (SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice,
                        l_discount FROM lineitem)
                UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount)))
         SELECT l_returnflag, l_linestatus, measure,
                CAST(count(*) AS BIGINT) AS n, round(sum(val), 2) AS total
         FROM u GROUP BY 1, 2, 3
         ORDER BY l_returnflag, l_linestatus, measure""",
    // same rounded-average moments, then identical IEEE closed form
    "q_regression" ->
      """WITH m AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  round(avg(extract(hour FROM ts) * 1.0), 6) AS mx,
                  round(avg(value), 6) AS my,
                  round(avg(extract(hour FROM ts) * value), 6) AS mxy,
                  round(avg(extract(hour FROM ts) * extract(hour FROM ts) * 1.0), 6) AS mxx,
                  round(avg(value * value), 6) AS myy
           FROM events GROUP BY event_type)
         SELECT event_type, n,
                round(CASE WHEN mxx - mx * mx != 0
                  THEN (mxy - mx * my) / (mxx - mx * mx) END, 6) AS slope,
                round(my - CASE WHEN mxx - mx * mx != 0
                  THEN (mxy - mx * my) / (mxx - mx * mx) END * mx, 6) AS intercept,
                round(CASE WHEN mxx - mx * mx != 0 AND myy - my * my != 0
                  THEN (mxy - mx * my) * (mxy - mx * my)
                       / ((mxx - mx * mx) * (myy - my * my)) END, 6) AS r2
         FROM m ORDER BY event_type""",
    "q_sample" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE (l_orderkey * 31 + l_linenumber) % 1000003 % 1000 < 100
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    // the same key-hash 1/16 draw, the same exact integer Σx/Σx²,
    // the same fixed IEEE tail; covered compares rounded grid values
    "q_aqp_groupby" ->
      """WITH s AS (SELECT lang, count(*) AS n_sample,
               CAST(sum(n_chars) AS BIGINT) AS s1,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
             FROM documents
             WHERE (doc_id * 31 + 11) % 1000003 % 16 = 0
             GROUP BY lang),
         x AS (SELECT lang, count(*) AS n_true,
               CAST(sum(n_chars) AS BIGINT) AS t1
             FROM documents GROUP BY lang),
         j AS (SELECT lang, n_sample, n_sample * 16 AS n_est, n_true,
               round(s1 / CAST(n_sample AS DOUBLE), 4) AS mean_est,
               round(1.96 * sqrt(greatest(s2 - CAST(s1 AS DOUBLE) * s1 / CAST(n_sample AS DOUBLE), 0)
                     / (CAST(n_sample AS DOUBLE) - 1))
                 / sqrt(CAST(n_sample AS DOUBLE)), 4) AS half_width,
               round(t1 / CAST(n_true AS DOUBLE), 4) AS mean_true
             FROM s JOIN x USING (lang) WHERE n_sample > 1)
         SELECT lang, CAST(n_sample AS BIGINT) AS n_sample,
                CAST(n_est AS BIGINT) AS n_est,
                CAST(n_true AS BIGINT) AS n_true,
                mean_est, half_width, mean_true,
                abs(mean_est - mean_true) <= half_width AS covered
         FROM j ORDER BY lang""",
    "q_sample_stratified" -> {
      val values = StratifiedRates
        .map { case (src, r) => s"('$src', $r)" }.mkString(", ")
      s"""WITH w(source, keep_permille) AS (VALUES $values)
         SELECT doc_id, d.source, CAST(w.keep_permille AS BIGINT) AS keep_permille
         FROM documents d JOIN w ON d.source = w.source
         WHERE ((doc_id * 31 + 7) % 1000003) % 1000 < w.keep_permille
         ORDER BY doc_id"""
    },
    "q_agg_salted" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    // discrete quantiles by the SAME explicit rank definition the
    // engine uses (value at ceil(p*n)) — no interpolation arithmetic
    // to disagree on
    "q_agg_approx_exact" ->
      """WITH ranked AS (
           SELECT l_returnflag, l_extendedprice,
                  row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem),
         q AS (
           SELECT l_returnflag,
                  max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END)
                    AS exact_median_price,
                  max(CASE WHEN rn = ceil(n * 0.99) THEN l_extendedprice END)
                    AS exact_p99_price
           FROM ranked GROUP BY l_returnflag),
         d AS (
           SELECT l_returnflag,
                  count(DISTINCT l_orderkey) AS exact_orders,
                  count(DISTINCT l_partkey) AS exact_parts
           FROM lineitem GROUP BY l_returnflag)
         SELECT d.l_returnflag, exact_orders, exact_parts,
                round(exact_median_price, 2) AS exact_median_price,
                round(exact_p99_price, 2) AS exact_p99_price
         FROM d JOIN q ON d.l_returnflag = q.l_returnflag
         ORDER BY d.l_returnflag""",
    // Spark's skewness/kurtosis are population moments (m3/m2^1.5,
    // m4/m2^2-3); DuckDB's are sample-corrected, so recompute from
    // centered deltas.
    "q_agg_stats" ->
      """WITH m AS (SELECT l_returnflag AS rf, avg(l_quantity) AS mu
                    FROM lineitem GROUP BY 1),
         j AS (SELECT l_returnflag, l_quantity, l_extendedprice,
                      l_quantity - mu AS dx
               FROM lineitem JOIN m ON l_returnflag = rf)
         SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(avg(dx*dx*dx) / pow(avg(dx*dx), 1.5), 4) AS skew_qty,
           round(avg(dx*dx*dx*dx) / pow(avg(dx*dx), 2) - 3, 4) AS kurt_qty,
           round(median(l_quantity), 2) AS median_qty
         FROM j GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_collect" ->
      """SELECT n_name, count(*) AS n_supp,
         string_agg(s_name, ',' ORDER BY s_name) AS roster,
         CAST(count(DISTINCT s_nationkey) AS INT) AS n_distinct_nk,
         arg_max(s_name, s_suppkey) AS latest_supplier
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_pivot" ->
      """SELECT user_id,
         count(*) FILTER (event_type = 'click') AS click,
         count(*) FILTER (event_type = 'error') AS error,
         count(*) FILTER (event_type = 'purchase') AS purchase,
         count(*) FILTER (event_type = 'signup') AS signup,
         count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",
    "q_sort_export" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY user_id, ts, event_id",
    "q_filter_predicates" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
         CASE WHEN o_totalprice > 200000.0 THEN 'big'
              WHEN o_totalprice > 50000.0 THEN 'mid' ELSE 'small' END AS bucket,
         coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
         round(greatest(o_totalprice, 100000.0), 2) AS floored,
         round(least(o_totalprice, 100000.0), 2) AS capped
         FROM orders
         WHERE o_totalprice BETWEEN 1000.0 AND 400000.0
           AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
           AND NOT (o_orderstatus = 'X')
           AND (o_orderpriority LIKE '%URGENT%' OR o_totalprice < 150000.0)
         ORDER BY o_orderkey""",
    // money columns sum as exact grid-unit BIGINTs (the promo-class
    // exact-integer contract, r8); quantities are integral already
    "q_agg_basic" ->
      """WITH q AS (SELECT l_returnflag, l_linestatus, l_quantity,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_e2,
             CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS rev_e4,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_e2
           FROM lineitem)
         SELECT l_returnflag, l_linestatus,
         count(*) AS n_rows,
         round(sum(l_quantity), 2) AS sum_qty,
         round(CAST(sum(price_e2) AS BIGINT) / 100.0, 2) AS sum_price,
         round(CAST(sum(rev_e4) AS BIGINT) / 10000.0, 4) AS sum_disc_price,
         round(CAST(sum(disc_e2) AS BIGINT) / 100.0, 2) / count(*) AS avg_disc,
         round(min(l_quantity), 2) AS min_qty,
         round(max(l_quantity), 2) AS max_qty
         FROM q GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_agg_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_orderkey) AS n_orders,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_join_inner" ->
      """SELECT c_custkey, c_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
         count(*) AS n_items
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""",
    // inner joins commute: the bucketed twin reorders the joins but
    // must produce the identical aggregate
    "q_join_inner_bucketed" ->
      """SELECT c_custkey, c_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
         count(*) AS n_items
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""",
    "q_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_tpch_regional" ->
      """SELECT n_name,
         round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0, 4) AS revenue,
         count(*) AS n_items
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND year(o_orderdate) BETWEEN 1996 AND 1997
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q_tpch_forecast" ->
      """SELECT round(CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) / 10000.0, 4) AS revenue,
         count(*) AS n_items
         FROM lineitem
         WHERE year(l_shipdate) = 1997
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24.0
         ORDER BY revenue""",
    // the priority predicate rides the LEFT join's ON clause so
    // zero-order customers survive into the k=0 bucket
    "q_tpch_custdist" ->
      """WITH c AS (SELECT c_custkey, count(o_custkey) AS n_orders
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
           GROUP BY c_custkey)
         SELECT n_orders, count(*) AS n_cust FROM c
         GROUP BY n_orders ORDER BY n_cust DESC, n_orders DESC""",
    // TYPE-1 quantiles: the value AT position ceil(q*n) — integer
    // position selection over integer cents, no interpolation
    "q_quantiles" ->
      """WITH r AS (SELECT o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY o_orderpriority ORDER BY
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rn,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
           FROM orders)
         SELECT o_orderpriority, CAST(any_value(n) AS BIGINT) AS n_orders,
           min(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
           min(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90_cents,
           min(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS p99_cents
         FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // same cents quantization, same floor-div bucketing, same
    // cross-multiplied cumulative threshold — the sketch is integer
    // end-to-end, so both engines build the identical 500-long state
    "q_quantile_sketch" ->
      s"""WITH b AS (SELECT o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             // $QSketchBucketCents AS bucket,
           count(*) AS c
           FROM orders GROUP BY 1, 2),
         w AS (SELECT o_orderpriority, bucket, c,
           sum(c) OVER (PARTITION BY o_orderpriority) AS n,
           sum(c) OVER (PARTITION BY o_orderpriority ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM b)
         SELECT o_orderpriority, CAST(any_value(n) AS BIGINT) AS n_orders,
           count(*) AS n_buckets,
           min(CASE WHEN cum * 100 >= n * 50
             THEN bucket * $QSketchBucketCents END) AS p50_lo_cents,
           min(CASE WHEN cum * 100 >= n * 90
             THEN bucket * $QSketchBucketCents END) AS p90_lo_cents,
           min(CASE WHEN cum * 100 >= n * 99
             THEN bucket * $QSketchBucketCents END) AS p99_lo_cents
         FROM w GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // exact type-1 quartiles; fences computed from identical doubles
    "q_iqr_outliers" ->
      """WITH r AS (SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
           FROM events WHERE value IS NOT NULL),
         q AS (SELECT *,
           min(CASE WHEN rn = (n + 3) // 4 THEN value END)
             OVER (PARTITION BY event_type) AS q1,
           min(CASE WHEN rn = (3 * n + 3) // 4 THEN value END)
             OVER (PARTITION BY event_type) AS q3
           FROM r)
         SELECT event_type, CAST(any_value(n) AS BIGINT) AS n_values,
           round(any_value(q1), 6) AS q1, round(any_value(q3), 6) AS q3,
           count(CASE WHEN value < q1 - 1.5 * (q3 - q1) THEN 1 END) AS n_low,
           count(CASE WHEN value > q3 + 1.5 * (q3 - q1) THEN 1 END) AS n_high
         FROM q GROUP BY event_type ORDER BY event_type""",
    // scalar avg stated as a subquery; NOT EXISTS stated correlated —
    // the engine plans broadcast-filter + left-anti. Exact cents both
    // ends (see the correlatedAvg tie contract).
    "q_tpch_churn" ->
      """WITH g AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
                    count(*) AS n
                    FROM customer WHERE c_acctbal > 0.0)
         SELECT n_name, count(*) AS n_cust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS bal_cents
         FROM customer JOIN nation ON c_nationkey = n_nationkey, g
         WHERE c_acctbal > ((g.cents * 100) // g.n) / 10000.0
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c_custkey
                             AND o.o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY n_name ORDER BY n_name""",
    // exact integer unit cost: price cents // integral quantity
    "q_tpch_mincost" ->
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_size = 15),
         c AS (SELECT l_partkey, p_name, l_suppkey,
                 min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                     // CAST(l_quantity AS BIGINT)) AS unit_cents
               FROM lineitem JOIN p ON l_partkey = p_partkey
               GROUP BY 1, 2, 3),
         r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
                 ORDER BY unit_cents, l_suppkey) AS rn FROM c)
         SELECT l_partkey AS p_partkey, p_name, s_suppkey, s_name, unit_cents
         FROM r JOIN supplier ON l_suppkey = s_suppkey
         WHERE rn = 1 ORDER BY p_partkey""",
    // stated as EXISTS on purpose: the engine plans the left-semi form
    "q_tpch_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-07-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_sql_face" ->
      """SELECT p_brand, count(*) AS n_items,
         round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0, 4) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size <= 10
         GROUP BY p_brand ORDER BY p_brand""",
    // same portable hash + xorshift-multiply finalizer, same exact
    // integer Σ2^(26−M_j)
    "q_hll_distinct" ->
      s"""WITH h1 AS (SELECT ${PortableStringHash.duckdbSql("'hll#' || CAST(event_id AS VARCHAR)", 1000003L)} AS h FROM events),
         m1 AS (SELECT xor(h, h >> 15) AS x FROM h1),
         m2 AS (SELECT xor((x * 1664525) % 2147483648,
             ((x * 1664525) % 2147483648) >> 13) AS x FROM m1),
         m3 AS (SELECT xor((x * 1013904223) % 2147483648,
             ((x * 1013904223) % 2147483648) >> 16) AS x FROM m2),
         r AS (SELECT CAST(x % 64 AS INT) AS reg, x // 64 AS v FROM m3),
         regs AS (SELECT reg,
           max(CASE WHEN v = 0 THEN 26 ELSE 26 - length(bin(v)) END) AS m_rank
           FROM r GROUP BY reg),
         allr AS (SELECT i.reg, coalesce(m_rank, 0) AS m_rank
           FROM (SELECT unnest(generate_series(0, 63)) AS reg) i
           LEFT JOIN regs ON i.reg = regs.reg),
         s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (26 - m_rank)) AS BIGINT)
           AS sum_inv_e26 FROM allr),
         x AS (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
           FROM events)
         SELECT 64 AS n_registers, n_exact, sum_inv_e26,
           round(CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0
             / sum_inv_e26, 2) AS hll_estimate,
           round((round(CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0
               / sum_inv_e26, 2) - n_exact)
             * 100.0 / n_exact, 2) AS rel_error_pct
         FROM s, x ORDER BY n_registers""",
    // the q_hll_distinct mix chain with a key-parity shard label:
    // per-shard register maxes merge by max into the whole-corpus
    // registers; both integer harmonic sums and both single divisions
    // are asserted equal in the output itself
    "q_hll_merge" ->
      s"""WITH h1 AS (SELECT event_id % 2 AS half, ${PortableStringHash.duckdbSql("'hll#' || CAST(event_id AS VARCHAR)", 1000003L)} AS h FROM events),
         m1 AS (SELECT half, xor(h, h >> 15) AS x FROM h1),
         m2 AS (SELECT half, xor((x * 1664525) % 2147483648,
             ((x * 1664525) % 2147483648) >> 13) AS x FROM m1),
         m3 AS (SELECT half, xor((x * 1013904223) % 2147483648,
             ((x * 1013904223) % 2147483648) >> 16) AS x FROM m2),
         rk AS (SELECT half, CAST(x % 64 AS INT) AS reg,
             CASE WHEN x // 64 = 0 THEN 26 ELSE 26 - length(bin(x // 64)) END AS rnk
           FROM m3),
         shard AS (SELECT half, reg, max(rnk) AS m_rank FROM rk GROUP BY half, reg),
         merged AS (SELECT reg, max(m_rank) AS m_rank FROM shard GROUP BY reg),
         md AS (SELECT i.reg, coalesce(m.m_rank, 0) AS m_rank
           FROM (SELECT unnest(generate_series(0, 63)) AS reg) i
           LEFT JOIN merged m ON i.reg = m.reg),
         ms AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (26 - m_rank)) AS BIGINT)
           AS sum_merged FROM md),
         wregs AS (SELECT reg, max(rnk) AS m_rank FROM rk GROUP BY reg),
         wd AS (SELECT i.reg, coalesce(w.m_rank, 0) AS m_rank
           FROM (SELECT unnest(generate_series(0, 63)) AS reg) i
           LEFT JOIN wregs w ON i.reg = w.reg),
         ws AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (26 - m_rank)) AS BIGINT)
           AS sum_whole FROM wd),
         x AS (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
           FROM events)
         SELECT n_exact,
           round(CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0 / sum_whole, 2)
             AS est_whole,
           round(CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0 / sum_merged, 2)
             AS est_merged,
           round(CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0 / sum_merged, 2)
             = round(CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0 / sum_whole, 2)
             AS merge_lossless
         FROM ws, ms, x ORDER BY n_exact""",
    // the q_hll_distinct pipeline with (event_type, reg) register
    // state: same hash, finalizer, and exact integer harmonic sum,
    // evaluated independently per group
    "q_hll_groups" ->
      s"""WITH h1 AS (SELECT event_type AS grp, ${PortableStringHash.duckdbSql("'hll#' || CAST(event_id AS VARCHAR)", 1000003L)} AS h FROM events),
         m1 AS (SELECT grp, xor(h, h >> 15) AS x FROM h1),
         m2 AS (SELECT grp, xor((x * 1664525) % 2147483648,
             ((x * 1664525) % 2147483648) >> 13) AS x FROM m1),
         m3 AS (SELECT grp, xor((x * 1013904223) % 2147483648,
             ((x * 1013904223) % 2147483648) >> 16) AS x FROM m2),
         r AS (SELECT grp, CAST(x % 64 AS INT) AS reg, x // 64 AS v FROM m3),
         regs AS (SELECT grp, reg,
           max(CASE WHEN v = 0 THEN 26 ELSE 26 - length(bin(v)) END) AS m_rank
           FROM r GROUP BY grp, reg),
         allr AS (SELECT g.grp, i.reg, coalesce(m_rank, 0) AS m_rank
           FROM (SELECT DISTINCT grp FROM h1) g
           CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS reg) i
           LEFT JOIN regs ON g.grp = regs.grp AND i.reg = regs.reg),
         s AS (SELECT grp, CAST(sum(CAST(1 AS BIGINT) << (26 - m_rank)) AS BIGINT)
           AS sum_inv_e26 FROM allr GROUP BY grp),
         x AS (SELECT event_type AS grp, CAST(count(DISTINCT event_id) AS BIGINT)
           AS n_exact FROM events GROUP BY event_type)
         SELECT s.grp AS event_type, n_exact, sum_inv_e26,
           round(CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0
             / sum_inv_e26, 2) AS hll_estimate,
           round((round(CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0
               / sum_inv_e26, 2) - n_exact)
             * 100.0 / n_exact, 2) AS rel_error_pct
         FROM s JOIN x ON s.grp = x.grp ORDER BY event_type""",
    "q_tpch_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0, 4) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE year(l_shipdate) BETWEEN 1996 AND 1997
           AND sn.n_name IN ('NATION_3', 'NATION_7')
           AND cn.n_name IN ('NATION_3', 'NATION_7')
           AND sn.n_name <> cn.n_name
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // numerator/denominator as exact 1e-4-unit BIGINTs; the share
    // divides the exact longs (promo-class contract, r8)
    "q_tpch_mktshare" ->
      """WITH q AS (SELECT year(o_orderdate) AS oy, sn.n_name AS supp_nation,
             CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS rev_e4
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN region ON cn.n_regionkey = r_regionkey
         WHERE p_type = 'STANDARD' AND r_name = 'AMERICA')
         SELECT CAST(oy AS INT) AS o_year,
         round(CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                        THEN rev_e4 ELSE 0 END) AS BIGINT) / 10000.0, 4) AS nation_rev,
         round(CAST(sum(rev_e4) AS BIGINT) / 10000.0, 4) AS total_rev,
         count(*) AS n_items,
         round(CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                        THEN rev_e4 ELSE 0 END) AS DOUBLE)
               / CAST(sum(rev_e4) AS BIGINT), 6) AS mkt_share
         FROM q GROUP BY 1 ORDER BY 1""",
    "q_tpch_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         round(CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)
                   - 0.6 * p_retailprice * l_quantity) * 10000) AS BIGINT)) AS BIGINT) / 10000.0, 4) AS profit,
         count(*) AS n_items
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    // exact integer 1e-4 units so the max-equality row set is stable
    "q_tpch_topsupplier" ->
      """WITH r AS (SELECT l_suppkey,
                    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                                  AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev_e4
                    FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                      AND l_shipdate < TIMESTAMP '1997-04-01'
                    GROUP BY 1)
         SELECT s_suppkey, s_name, rev_e4
         FROM r JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_e4 = (SELECT max(rev_e4) FROM r)
         ORDER BY s_suppkey""",
    // threshold as exact cross-multiplied integers: 5·qty·n < Σqty
    "q_tpch_smallqty" ->
      """WITH b AS (SELECT l_partkey, l_quantity, l_extendedprice,
                    sum(CAST(l_quantity AS BIGINT))
                      OVER (PARTITION BY l_partkey) AS sum_qty,
                    count(*) OVER (PARTITION BY l_partkey) AS n_li
                    FROM lineitem JOIN part ON l_partkey = p_partkey
                    WHERE p_brand = 'Brand#12')
         SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 / 7.0, 4) AS avg_yearly,
           count(*) AS n_small,
           count(DISTINCT l_partkey) AS n_parts
         FROM b WHERE CAST(l_quantity AS BIGINT) * 5 * n_li < sum_qty
         ORDER BY avg_yearly""",
    // stated in Q11's scalar-subquery HAVING form; the engine plans the
    // agg-over-agg + broadcast rendering of the same contract
    "q_tpch_partvalue" ->
      """SELECT l_partkey AS p_partkey,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS val_cents
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_3'
         GROUP BY l_partkey
         HAVING sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) * 400 >
           (SELECT sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       * CAST(l_quantity AS BIGINT))
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3')
         ORDER BY p_partkey""",
    "q_tpch_lateship" ->
      """SELECT l_returnflag,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > o_orderdate + INTERVAL 90 DAY
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",
    // stated in Q16's NOT IN form; the engine plans a broadcast anti join
    "q_tpch_suppcnt" ->
      """SELECT p_brand, p_type, p_size,
         count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
           AND p_size IN (5, 15, 25, 35, 45)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // stated in Q20's nested-IN form; the engine plans semi-join stages
    "q_tpch_excess" ->
      """SELECT s_suppkey, s_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_1'
           AND s_suppkey IN
             (SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN
                (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
              GROUP BY l_suppkey, l_partkey
              HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                          AND l_shipdate < TIMESTAMP '1999-01-01'
                         THEN CAST(l_quantity AS BIGINT) ELSE 0 END) * 2 >
                     sum(CAST(l_quantity AS BIGINT)))
         ORDER BY s_name, s_suppkey""",
    // stated in Q21's correlated EXISTS / NOT EXISTS form; the engine
    // plans the per-order aggregate rewrite — matching proves it
    "q_tpch_waiting" ->
      """SELECT s_suppkey, s_name, count(*) AS numwait
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
         WHERE n_name = 'NATION_7' AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY s_suppkey, s_name
         ORDER BY numwait DESC, s_name, s_suppkey""",
    "q_tpch_returned" ->
      """SELECT c_custkey, c_name, n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
         count(*) AS n_returned,
         round(any_value(c_acctbal), 2) AS acctbal
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-10-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_tpch_disjunct" ->
      """SELECT CASE WHEN p_type = 'PROMO' AND p_size BETWEEN 1 AND 15
                      AND l_quantity BETWEEN 1.0 AND 20.0 THEN 'promo_small'
                 WHEN p_type = 'ECONOMY' AND p_size BETWEEN 10 AND 30
                      AND l_quantity BETWEEN 10.0 AND 35.0 THEN 'economy_mid'
                 ELSE 'brand12_bulk' END AS branch,
         round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0, 4) AS revenue,
         count(*) AS n_items,
         count(DISTINCT p_partkey) AS n_parts
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1.0 AND 20.0)
            OR (p_type = 'ECONOMY' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10.0 AND 35.0)
            OR (p_brand = 'Brand#12' AND p_size <= 25 AND l_quantity >= 25.0)
         GROUP BY 1 ORDER BY branch""",
    "q_tpch_shipping" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
         count(*) AS n_items
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-07-01'
           AND l_shipdate > TIMESTAMP '1997-07-01'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    // per-line revenue quantized to an exact integer (10^-4 units) and
    // summed as BIGINT — order-free at any SF (the sf1 slice caught
    // round-at-4 double sums diverging in the 4th decimal at ~4e9 mass)
    "q_tpch_promo" ->
      """WITH q AS (SELECT month(l_shipdate) AS m, p_type,
             CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS rev_e4
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE year(l_shipdate) = 1997),
         g AS (SELECT m,
             CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) AS BIGINT) AS promo_e4,
             CAST(sum(rev_e4) AS BIGINT) AS total_e4,
             count(*) AS n_items
           FROM q GROUP BY m)
         SELECT CAST(m AS INT) AS ship_month,
           round(promo_e4 / 10000.0, 4) AS promo_rev,
           round(total_e4 / 10000.0, 4) AS total_rev,
           n_items,
           round(100.0 * promo_e4 / total_e4, 6) AS promo_share
         FROM g ORDER BY ship_month""",
    // l_quantity is integral-valued → exact double sums, no rounding contract
    "q_tpch_bigorders" ->
      """WITH heavy AS (
           SELECT l_orderkey, sum(l_quantity) AS sum_qty
           FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300.0)
         SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS total_price, sum_qty
         FROM heavy JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY sum_qty DESC, o_orderkey""",
    // exact integer cents into the one growth division; first year → NULL
    "q_yoy_growth" ->
      """WITH m AS (
           SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(month(o_orderdate) AS INT) AS mo,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_cents,
             count(*) AS n_orders
           FROM orders GROUP BY 1, 2)
         SELECT yr, mo, rev_cents, n_orders,
           round((rev_cents - lag(rev_cents, 1) OVER (PARTITION BY mo ORDER BY yr))
                 * 100.0 / lag(rev_cents, 1) OVER (PARTITION BY mo ORDER BY yr), 4) AS yoy_pct
         FROM m ORDER BY yr, mo""",
    // stated CORRELATED on purpose: the engine plans the decorrelated
    // single-window form; the oracle proves it equals the correlated spec
    // avg = exact decimal sum → integer cents → floor-div 1e-4 units
    // (see the engine-side comment on rounding ties)
    "q_correlated_avg" ->
      """WITH a AS (SELECT o_orderkey, o_custkey, o_totalprice,
           CAST((SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                 FROM orders o2 WHERE o2.o_custkey = o1.o_custkey) * 100
                AS BIGINT) AS cust_cents,
           (SELECT count(*) FROM orders o2
            WHERE o2.o_custkey = o1.o_custkey) AS n_cust_orders
           FROM orders o1),
         b AS (SELECT o_orderkey, o_custkey, o_totalprice, n_cust_orders,
           ((cust_cents * 100) // n_cust_orders) / 10000.0 AS cust_avg
           FROM a)
         SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price,
           cust_avg, n_cust_orders
         FROM b WHERE o_totalprice > 1.2 * cust_avg
         ORDER BY o_orderkey""",
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
         FROM orders ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC LIMIT 100""",
    "q_set_ops" ->
      """SELECT custkey FROM (
           SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
           INTERSECT
           SELECT o_custkey AS custkey FROM orders
           EXCEPT
           SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000.0
           UNION
           SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < -900
         ) ORDER BY custkey""",
  )
}
