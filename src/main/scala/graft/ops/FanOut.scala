package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism floor for CPU-heavy per-row stages
  * (r12, guide §2.2/§2.5/§2.6).
  *
  * The failure mode this fixes: a parquet file holding ONE row group
  * can never split below one scan task whatever the split size, and
  * AQE's partition coalescing sizes reduce stages by BYTES — so any
  * stage whose cost is CPU per row rather than bytes (chunk + word
  * hash, Levenshtein DP, basket pair explosion) inherits a 1-5-task
  * ceiling from a small input even on a 32-core box. Profiled r12:
  * q_pipeline_corpus spent ~7 s of its 8 s in four such single-task
  * stages.
  *
  * The gate derives from the PLAN, not a tuned constant: fan-out
  * happens only when the source relation plans fewer partitions than
  * the cluster's default parallelism. On a real deployment (100 TB →
  * thousands of scan tasks) every helper here is the identity and the
  * plan is byte-for-byte what it was before. The repartition key must
  * be a deterministic high-cardinality column (guide §2.5: never a
  * rand()-derived key — retried map tasks would re-draw and
  * duplicate/lose rows); hash repartition on a real key also avoids
  * the local sort a round-robin `repartition(n)` pays.
  *
  * `narrow` calls `df.rdd` to read the planned partition count, which
  * is only execution-free on an exchange-free plan (a scan or a
  * LocalRelation — AQE otherwise materializes stages to answer). Both
  * entry points therefore take the SOURCE relation (scan-shaped) as
  * the gate even when the repartition applies further downstream.
  */
object FanOut {

  /** The session's parallelism floor — executor-count-adaptive, never
    * a constant. */
  def floor(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Does this exchange-free source relation plan fewer partitions
    * than the session floor? (Callers pass the raw scan, never a
    * shuffled relation — see class doc.) */
  def narrow(source: DataFrame): Boolean =
    source.rdd.getNumPartitions < floor(source)

  /** Hash-repartition `df` on `keys` up to the floor iff `df` itself
    * is a narrow source. */
  def apply(df: DataFrame, keys: Column*): DataFrame =
    when(df)(df, keys: _*)

  /** [[apply]] by range on `key`, for a pipeline that aggregates by
    * `key` and ends in a global sort on it: the layout serves both, and
    * its boundary sample reads the source, not the whole pipeline. */
  def byRange(df: DataFrame, key: Column): DataFrame =
    if (narrow(df)) df.repartitionByRange(floor(df), key) else df

  /** Hash-repartition `df` on `keys` up to the floor iff the given
    * SOURCE scan is narrow — for call sites where the expensive stage
    * sits above exchanges (joins, distincts) whose AQE-coalesced
    * parallelism would otherwise inherit the byte-sized estimate. */
  def when(source: DataFrame)(df: DataFrame, keys: Column*): DataFrame =
    if (narrow(source)) df.repartition(floor(df), keys: _*) else df
}
