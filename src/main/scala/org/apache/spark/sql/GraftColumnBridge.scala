package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Spark 4 made the Column↔Expression converters `private[sql]`
  * (`classic.ExpressionUtils`); this is the minimal in-package bridge
  * that lets graft's native expressions (e.g.
  * `graft.functions.CosineSimilarity`) surface as Columns. */
object GraftColumnBridge {
  def wrap(a: Column, b: Column)(f: (Expression, Expression) => Expression): Column =
    ExpressionUtils.column(
      f(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def wrap1(a: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(a)))

  /** `df.localCheckpoint()` that keeps the row count and the hash
    * layout (`graft.ops.Iterate.leaf` says why). One eager job
    * materializes the blocks and counts them: Spark's own eager
    * checkpoint runs the same per-partition iterator-size job and
    * drops the sizes. The blocks come back as a fresh `LogicalRDD`
    * whose statistics are exactly that many rows at the conservative
    * default size, not the source plan's estimate that
    * `Dataset.localCheckpoint` carries over (`originStats` is
    * private[sql], hence this bridge). The SQL execution is named as
    * Spark names it, so its call site still reads
    * `localCheckpoint at <caller>`. The leaf reports the FINAL physical
    * plan's `HashPartitioning` (under AQE the adaptive node's own is
    * always unknown), remapped onto its output, when there are exactly
    * as many blocks as buckets; any other layout stays unknown. */
  def localCheckpoint(df: Dataset[Row]): Dataset[Row] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    val (blocks, rows) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      (rdd, rdd.count())
    }
    val stats = Statistics(
      sizeInBytes = spark.sessionState.conf.defaultSizeInBytes, rowCount = Some(rows))
    val output = DataTypeUtils.toAttributes(df.schema)
    val executed = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val toLeaf = AttributeMap(executed.output.zip(output))
    val layout = executed.outputPartitioning match {
      case h: HashPartitioning if h.numPartitions == blocks.getNumPartitions &&
          h.references.forall(toLeaf.contains) =>
        h.transform { case a: Attribute => toLeaf(a) }.asInstanceOf[HashPartitioning]
      case _ => UnknownPartitioning(0)
    }
    classic.Dataset.ofRows(spark, LogicalRDD(output, blocks, layout)(spark, Some(stats)))
  }

  /** `bloom_filter_agg` as a Column: Spark ships the aggregate that
    * builds a `util.sketch.BloomFilter` over xxhash64'd keys (it is
    * what `InjectRuntimeFilter` plants for its own runtime filters,
    * `catalyst.optimizer.InjectRuntimeFilter`), but leaves it out of
    * the public function registry — this bridge exposes it so the
    * engine can build EXPLICIT semi-join pushdown filters. `child`
    * must already be an xxhash64 (LongType) column, mirroring the
    * optimizer's own usage. */
  def bloomFilterAgg(child: Column, estimatedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new BloomFilterAggregate(ExpressionUtils.expression(child),
        Literal(estimatedItems), Literal(numBits)).toAggregateExpression())

  /** `might_contain` probe against a 1-row [[bloomFilterAgg]] relation;
    * `value` must be the same xxhash64 rendering the filter was built
    * over. The filter side must analyze as a SCALAR SUBQUERY (the
    * expression rejects plain input columns) — exactly how
    * `InjectRuntimeFilter` plants its own probes, and what makes the
    * build side execute once as a subquery stage whose result ships to
    * every probe task. False positives possible, false negatives
    * never — callers must re-verify positives with an exact join. */
  def bloomMightContain(bloom: Dataset[Row], value: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      catalyst.expressions.ScalarSubquery(bloom.queryExecution.analyzed),
      ExpressionUtils.expression(value)))

  /** Whether `key` was EXPLICITLY set on this session (builder conf,
    * spark-defaults, or runtime set) as opposed to merely having a
    * registered default. `RuntimeConfig.getOption` returns the default
    * of a registered entry, so it cannot make this distinction —
    * `SQLConf.contains` (private[sql] session state) checks only the
    * explicit settings map. */
  def isConfExplicitlySet(spark: SparkSession, key: String): Boolean =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.contains(key)

  /** Blocks until every event posted so far has reached every listener
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`): a
    * listener's records are complete only after this returns. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
