package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every key appearing in
  * [[queries]] with a companion entry in [[oracleSql]] is hash-compared
  * against DuckDB on the same parquet by the harness; keys without an
  * oracle get a rows-only check (golden tests cover them in ScalaTest);
  * q_agg_approx, whose HLL sketch is engine-internal, is the one left.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The engine analog of the reference's global CSV sort
    * (`assignment1/part2/task.py:24`). */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.sortExport(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.Joins.queries ++ ops.Windows.queries ++
      ops.Functions.queries ++ ops.PageRank.queries ++ ops.Text.queries ++
      ops.Vectors.queries ++ ops.Events.queries ++ ops.AllReduce.queries ++
      ops.Multimodal.queries ++ ops.Sources.queries ++ ops.Corpus.queries ++
      ops.Graph.queries ++ ops.Pipeline.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → weaker rows-only check. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracles ++ ops.Joins.oracles ++ ops.Windows.oracles ++
      ops.Functions.oracles ++ ops.PageRank.oracles ++ ops.Text.oracles ++
      ops.Vectors.oracles ++ ops.Events.oracles ++ ops.AllReduce.oracles ++
      ops.Multimodal.oracles ++ ops.Sources.oracles ++ ops.Corpus.oracles ++
      ops.Graph.oracles ++ ops.Pipeline.oracles
}
