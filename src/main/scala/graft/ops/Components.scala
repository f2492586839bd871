package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation with pointer
  * jumping — the second iterative graph operator (after PageRank,
  * SURVEY.md §2.14), and the closure step LSH dedup needs: one-pass
  * band clustering links A↔B and B↔C but leaves A and C apart;
  * propagating minimum labels to a fixed point merges chains into
  * true clusters.
  *
  * Shape per iteration: (1) each node takes the min of its own and
  * its neighbors' labels (one shuffle keyed on node id); (2) a
  * pointer-jump — `comp ← label(comp)` — halves label-chain depth,
  * so rounds needed are O(log diameter), not O(diameter): a 1M-hop
  * chain converges in ~20 rounds. Per-node state is one label, the
  * widest row is O(1). The loop runs on [[Iterate.untilStable]]: the
  * count of changed labels rides each round's own checkpoint job, and
  * if `maxIterations` is exhausted first the run FAILS LOUDLY rather
  * than returning silently-split components.
  */
object Components {

  /** `edges(src, dst)` of any orderable key type → `(node, comp)`
    * where comp = min node id reachable. */
  def connectedComponents(edges: DataFrame, maxIterations: Int = 25): DataFrame = {
    // a leaf, not persist: the caller's edge list can be an arbitrarily
    // deep pipeline (LSH banding is a DAG of self-joins) that every
    // round's plan would re-embed several times, growing Catalyst's
    // optimizer work and size estimates with the producer pipeline;
    // the cut keeps every round's logical plan O(1) deep. One pass
    // over the edges emits both orientations; laid out by a, whose
    // exchange is also the distinct's.
    val byA = Iterate.leaf(Iterate.layout(
      edges.select(explode(array(struct(col("src").as("a"), col("dst").as("b")),
        struct(col("dst").as("a"), col("src").as("b")))).as("e")).select("e.*"), "a")
      .distinct())
    // byA's row count bounds every per-round relation below (labels
    // are keyed by its endpoints, received/jumpSrc are its projections).
    // The round joins on a and aggregates on b (Iterate's layout rule);
    // the edges are symmetric, so the swapped columns are them laid
    // out by b.
    val doBroadcast = Iterate.fits(byA)
    val gate = Iterate.broadcastIf(doBroadcast)
    val und = if (!doBroadcast) byA else byA.select(col("b").as("a"), col("a").as("b"))
    val init = Iterate.leaf(byA.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("comp")))
    // `changed` is null when a node has no inbound neighbor (null OR
    // false folds to null) — that means unchanged, and when() skips it
    Iterate.untilStable("graft.cc.changed", init, maxIterations,
        _ => sum(when(col("changed"), 1L)),
        refuse = Some("connectedComponents")) { (state, _, _) =>
      // the state carries last round's `changed` flag; a no-op
      // projection on the initial labels
      val labels = state.select(col("node"), col("comp"))
      // (1) neighbor min
      val received = und.join(gate(labels), col("a") === col("node"))
        .groupBy(col("b")).agg(min(col("comp")).as("nbr_comp"))
      val stepped = labels.join(gate(received), col("node") === col("b"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          (col("nbr_comp") < col("comp")).as("changed"))
      // (2) pointer jump: comp ← label(comp), halving chain depth.
      // Exactly ONE jump per round: a second jump (quartering depth)
      // was measured slower end-to-end — the extra self-join per round
      // costs more than the rounds it saves on every corpus tried,
      // because per-round cost is dominated by the two joins already
      // present, not by round count.
      val jumpSrc = stepped.select(col("node").as("jnode"), col("comp").as("jcomp"))
      stepped.join(gate(jumpSrc), col("comp") === col("jnode"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"),
          (col("changed") || col("jcomp") < col("comp")).as("changed"))
    }.select(col("node"), col("comp"))
  }
}
