package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{broadcast, col}

/** The iterative operators' shared mechanics, written once: the
  * materialization primitive [[leaf]], its row count [[rows]] and its
  * hash layout [[laidOut]], the two loop drivers [[rounds]] (fixed
  * round count) and [[untilStable]] (fixed point), and the one size
  * gate [[fits]] behind the explicit broadcasts.
  *
  * A leaf keeps its plan's hash layout, so the planner does the
  * reference's `partitionBy` + `cache()`: a loop builds each invariant
  * once with [[laidOut]], by one rule. Under the broadcast gate the
  * round streams the invariant, so it is laid out by the key the round
  * aggregates on; past the gate, by the key the round joins on. No
  * round re-exchanges it.
  *
  * A driver owns the round counter, the lineage cut and, for fixed
  * points, the per-round observation, the stop test and the loud
  * failure; a loop passes in only its initial relation and its step.
  * HITS runs its first n−1 a→h rounds on [[rounds]] and cuts the last
  * one's two vectors with [[leaf]]. BPE stays hand-written on [[leaf]]:
  * it carries a second relation on its own cut schedule (its
  * per-round rule outlives the loop).
  */
object Iterate {

  /** Row ceiling for the size-gated explicit broadcasts (per-round
    * label, rank, frontier and score vectors, and the edge relations
    * whose count bounds them). A key + a few numbers is ~24-40 B
    * serialized, so 4M rows ≈ 100-160 MB per executor — a safe
    * footprint. Under the ceiling, shipping the small side beats
    * shuffling the much larger edge side every round; past it (the
    * billion-node graphs a 100 TB corpus implies) the broadcast would
    * be a repeated driver round-trip that eventually fails outright,
    * so the plans fall back to the shuffled joins. */
  private val BroadcastMaxRows = 4000000L

  /** The size gate: whether a relation of at most `bound` rows ships as
    * an explicit broadcast — never in a session whose negative
    * `spark.sql.autoBroadcastJoinThreshold` switches broadcast joins
    * off (the at-scale regime the plan specs pin). */
  def fits(s: SparkSession, bound: Long): Boolean =
    bound <= BroadcastMaxRows &&
      !s.conf.get("spark.sql.autoBroadcastJoinThreshold").trim.startsWith("-")

  /** [[fits]] bounded by a leaf's own [[rows]]. */
  def fits(leafDf: DataFrame): Boolean = fits(leafDf.sparkSession, rows(leafDf))

  /** `broadcast` when the size gate passed, the identity past it. */
  def broadcastIf(b: Boolean): DataFrame => DataFrame =
    if (b) broadcast(_) else identity

  /** Materialize `df` and cut its lineage: one eager `localCheckpoint`
    * job that also counts the rows it stores, the blocks wrapped as a
    * fresh leaf that carries the count.
    *
    * The checkpoint makes every later plan over the relation O(1)
    * deep however many rounds produced it. The leaf
    * (`GraftColumnBridge.localCheckpoint`) replaces the statistics
    * Spark's checkpoint would carry over: in a loop that self-joins
    * its state the inherited estimate compounds each round (CC
    * measured 611 → 728k bits by round 6, the driver grinding
    * BigInteger stats math instead of running jobs), and a bare
    * checkpoint leaf's estimate varies run to run with its in-memory
    * block layout, which flipped q_modularity's label joins between
    * broadcast and shuffled (PlanBudgetSpec's exact gate). The leaf's
    * size stays the conservative default, so each initial plan is a
    * pure function of the query; AQE still re-plans from exact
    * shuffle sizes.
    *
    * The leaf keeps the plan's `HashPartitioning` when its blocks are
    * exactly the hash buckets; any other layout is unknown.
    *
    * The blocks are not in the SQL CacheManager, so `unpersist()`
    * cannot release them: they are freed when the RDD is garbage
    * collected. */
  def leaf(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.localCheckpoint(df)

  /** `df` hash-repartitioned on `key` into `numPartitions` (> 0) or
    * the session's shuffle partitions: AQE coalesces a count-less
    * repartition of a small relation, and a leaf over it keeps no layout. */
  def layout(df: DataFrame, key: String, numPartitions: Int = 0): DataFrame =
    df.repartition(
      if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))

  /** [[leaf]] of [[layout]]: a loop invariant laid out by `key`. */
  def laidOut(df: DataFrame, key: String, numPartitions: Int = 0): DataFrame =
    leaf(layout(df, key, numPartitions))

  private def exactRows(p: LogicalPlan): Option[Long] = p match {
    case l: LogicalRDD => l.computeStats().rowCount.map(_.toLong)
    case Project(_, child) => exactRows(child)
    case u: Union => u.children.foldLeft(Option(0L)) { (n, c) =>
      for (a <- n; b <- exactRows(c)) yield a + b }
    case _ => None
  }

  /** The exact row count of a [[leaf]] or a projection of one (or a
    * union of those), read from its statistics without a job; throws
    * `IllegalArgumentException` for any other relation. */
  def rows(df: DataFrame): Long =
    exactRows(df.queryExecution.analyzed).getOrElse(throw new IllegalArgumentException(
      "row count unknown — not a leaf or a projection of one:\n" +
        df.queryExecution.analyzed.treeString))

  /** `df` itself when [[rows]] knows its count (e.g. the symmetric edge
    * list over a session memo's leaf), otherwise [[leaf]]`(df)`:
    * re-checkpointing such a relation copies its rows into fresh blocks
    * and spends a job to buy nothing. */
  def leafOr(df: DataFrame): DataFrame =
    if (exactRows(df.queryExecution.analyzed).isDefined) df else leaf(df)

  /** `n` rounds of `step` from `init`, the state cut by [[leaf]] after
    * every `cutEvery`-th round and after the last. A lazy round costs
    * no job; cutting less often than every round suits a step with one
    * consumer of its state, whose short lineage replans cheaply. */
  def rounds(init: DataFrame, n: Int, cutEvery: Int = 1)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (state, i) =>
      val next = step(state)
      if (i % cutEvery == 0 || i == n) leaf(next) else next
    }

  /** Rounds of `step` until `stable(previous, current)` holds for the
    * round metric, at most `maxRounds`. Every round is cut by [[leaf]],
    * and `metric(round)` (one aggregate, a null read as 0) is collected
    * by an observation named `name.round` on that same checkpoint job
    * and read from its executed plan when the job returns (no
    * listener-bus wait), so a round costs one job, not a checkpoint
    * plus a scan. Observed metrics count once per execution, so a task retry
    * cannot overcount.
    *
    * `step` gets the state, the round number (from 1) and the previous
    * round's metric (`start` before round 1). When `refuse` names the
    * loop, running out of rounds throws `IllegalStateException`
    * instead of returning a non-fixed point; `None` returns the state
    * after `maxRounds` as it stands. */
  def untilStable(name: String, init: DataFrame, maxRounds: Int, metric: Int => Column,
      start: Long = 1L, stable: (Long, Long) => Boolean = (_, m) => m == 0L,
      refuse: Option[String] = None)(
      step: (DataFrame, Int, Long) => DataFrame): DataFrame = {
    var state = init
    var last = start
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      round += 1
      val observed = step(state, round, last).observe(s"$name.$round", metric(round).as("metric"))
      state = leaf(observed)
      val obs = observed.queryExecution.observedMetrics(s"$name.$round")
      val m = if (obs.isNullAt(0)) 0L else obs.getLong(0)
      done = stable(last, m)
      last = m
    }
    for (what <- refuse if !done)
      throw new IllegalStateException(
        s"$what did not reach a fixed point within $maxRounds rounds — " +
          "refusing to return a non-fixed point")
    state
  }
}
