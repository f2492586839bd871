package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared per-suite SparkSession (one JVM-wide session under sbt's
  * forked test JVM; getOrCreate dedups across suites). */
trait SparkSpec extends AnyFunSuite {
  // the factory's session with the suite's fixed settings (see
  // Harness.specSession): plan_budgets.tsv is recorded under it
  lazy val spark: SparkSession = Harness.specSession()

  lazy val sf0001 = "/root/testdata/sf0.001"

  /** `q`'s rows in the default regime and with broadcast joins off
    * (`autoBroadcastJoinThreshold=-1`, the at-scale regime every size
    * gate then takes), after asserting that the second run planned its
    * joins shuffled in every execution it ran — loop rounds and
    * checkpoint jobs included — while the first broadcast somewhere. */
  protected def bothRegimes(what: String)(q: => DataFrame): (Set[Row], Set[Row]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def run(): (Set[Row], Seq[String]) = {
      GraftColumnBridge.drainListeners(spark.sparkContext)
      plans.clear()
      val rows = q.collect().toSet
      GraftColumnBridge.drainListeners(spark.sparkContext)
      (rows, plans.asScala.toSeq)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.listenerManager.register(listener)
    try {
      val (default, defaultPlans) = run()
      assert(defaultPlans.exists(_.contains("BroadcastHashJoin")),
        s"$what: the default regime broadcasts nothing, so the check below proves nothing")
      spark.conf.set(key, "-1")
      val (shuffled, shuffledPlans) = run()
      assert(shuffledPlans.exists(p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
        s"$what: no shuffled join planned:\n${shuffledPlans.mkString("\n")}")
      shuffledPlans.foreach(p =>
        assert(!p.contains("BroadcastHashJoin"), s"$what: a gate still broadcasts:\n$p"))
      (default, shuffled)
    } finally {
      spark.conf.set(key, saved)
      spark.listenerManager.unregister(listener)
    }
  }
}
