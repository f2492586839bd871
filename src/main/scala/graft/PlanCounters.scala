package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** The physical-plan features that matter at scale, extracted from an
  * EXECUTED query's final adaptive plan — shared by `graft.Dev
  * counters` and the PlanBudgetSpec regression gate (r5 verdict task
  * 1: ~45 queries had bespoke PlanSpec pins; the other ~177 could
  * silently lose a ReusedExchange or flip a broadcast to SMJ and
  * still pass every oracle).
  *
  * Counters are counted on the executed plan string AFTER adaptive
  * re-planning (AQE's broadcast conversions, reuse insertion, and
  * skew handling are exactly the decisions worth pinning), with the
  * "== Initial Plan ==" tail stripped so nothing double-counts.
  */
object PlanCounters {

  /** One query's plan-shape fingerprint. TSV field order is the
    * [[header]] order; every counter is deterministic for a fixed
    * dataset + session config. */
  final case class Counters(shuffles: Int, rangeX: Int, reused: Int,
      scans: Int, memscans: Int, explodes: Int, bcast: Int, codegen: Int) {
    def tsv: String =
      s"$shuffles\t$rangeX\t$reused\t$scans\t$memscans\t$explodes\t$bcast\t$codegen"
  }

  val header: String =
    "query\tshuffles\trangeX\treused\tscans\tmemscans\texplodes\tbcast\tcodegen"

  /** One query's `plan_budgets.tsv` line — the format PlanBudgetSpec
    * records and `graft.Dev counters` prints, so the two diff directly. */
  def budgetLine(query: String, c: Counters): String = s"$query\t${c.tsv}"

  def parse(fields: Array[String]): Counters = Counters(
    fields(0).toInt, fields(1).toInt, fields(2).toInt, fields(3).toInt,
    fields(4).toInt, fields(5).toInt, fields(6).toInt, fields(7).toInt)

  /** Executes the frame (noop row drain on its OWN QueryExecution, so
    * the audited AdaptiveSparkPlan is the one that actually ran) and
    * counts the features on the final plan. */
  def measure(df: DataFrame): Counters = {
    df.queryExecution.toRdd.foreach(_ => ())
    val p = finalPlan(df)
    def n(pat: String) = pat.r.findAllIn(p).length
    Counters(
      shuffles = n("Exchange hashpartitioning"),
      rangeX = n("Exchange rangepartitioning"),
      reused = n("ReusedExchange"),
      scans = n("Scan parquet"),
      memscans = n("InMemoryTableScan"),
      explodes = n("Generate explode"),
      bcast = n("BroadcastExchange"),
      codegen = n("\\*\\("))
  }

  /** The executed plan's text without the pre-adaptive plan that
    * AdaptiveSparkPlan.toString appends under "== Initial Plan =="
    * (counting over both would double-count every feature). */
  def finalPlan(df: DataFrame): String = finalPlan(df.queryExecution)

  def finalPlan(qe: QueryExecution): String = {
    val full = qe.executedPlan.toString
    full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
  }
}
