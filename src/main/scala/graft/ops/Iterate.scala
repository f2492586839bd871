package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.broadcast

/** The iterative operators' shared mechanics, written once: the
  * materialization primitive [[leaf]], the two loop drivers
  * [[rounds]] (fixed round count) and [[untilStable]] (fixed point),
  * and the one ceiling behind the size-gated explicit broadcasts.
  *
  * A driver owns the round counter, the lineage cut and, for fixed
  * points, the per-round `Observation`, the stop test and the loud
  * failure; a loop passes in only its initial relation and its step.
  * HITS and BPE stay hand-written on [[leaf]]: each carries a second
  * relation on its own cut schedule (HITS' authority vector is cut
  * only after the last round; BPE's per-round rule outlives the loop).
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
    * so the plans fall back to the shuffled joins. Checkpoint leaves
    * hide their size from Catalyst, so each operator measures its
    * bound with one explicit count and compares it here with `<=`. */
  val BroadcastMaxRows = 4000000L

  /** `broadcast` when the size gate passed, the identity past it. */
  def broadcastIf(b: Boolean): DataFrame => DataFrame =
    if (b) broadcast(_) else identity

  /** Materialize `df` and cut its lineage: one eager `localCheckpoint`
    * job, then the blocks re-wrapped as a fresh leaf.
    *
    * The checkpoint makes every later plan over the relation O(1)
    * deep however many rounds produced it. The re-wrap
    * (`GraftColumnBridge.freshLeaf`) costs no job and resets the
    * statistics the checkpoint would otherwise carry over: in a loop
    * that self-joins its state the inherited estimate compounds each
    * round (CC measured 611 → 728k bits by round 6, the driver
    * grinding BigInteger stats math instead of running jobs), and a
    * bare checkpoint leaf's estimate varies run to run with its
    * in-memory block layout, which flipped q_modularity's label joins
    * between broadcast and shuffled (PlanBudgetSpec's exact gate).
    * The fresh leaf's conservative default makes each initial plan a
    * pure function of the query; AQE still re-plans from exact
    * shuffle sizes.
    *
    * The blocks are not in the SQL CacheManager, so `unpersist()`
    * cannot release them: they are freed when the RDD is garbage
    * collected. */
  def leaf(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.freshLeaf(df.localCheckpoint())

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
    * by an `Observation` named `name.round` on that same checkpoint job, so
    * a round costs one job, not a checkpoint plus a scan. Observed
    * metrics count once per execution, so a task retry cannot
    * overcount.
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
      val obs = Observation(s"$name.$round")
      state = leaf(step(state, round, last).observe(obs, metric(round)))
      val m = Option(obs.get.valuesIterator.next()).fold(0L)(_.asInstanceOf[Long])
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
