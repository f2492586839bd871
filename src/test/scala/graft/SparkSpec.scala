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

  /** `f`'s result, and every execution it ran — loop rounds and
    * checkpoint jobs included — with the name of the action that ran it
    * (`collect`, `count`, `localCheckpoint`, …), in the order they
    * finished. */
  protected def listened[T](f: => T): (T, Seq[(String, QueryExecution)]) = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ran.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftColumnBridge.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = f
      GraftColumnBridge.drainListeners(spark.sparkContext)
      (result, ran.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** `q`'s rows, and every execution computing them ran (see [[listened]]). */
  protected def executions(q: => DataFrame): (Set[Row], Seq[QueryExecution]) = {
    val (rows, ran) = listened(q.collect().toSet)
    (rows, ran.map(_._2))
  }

  /** `f` with broadcast joins off (`autoBroadcastJoinThreshold=-1`,
    * the at-scale regime every size gate then takes). */
  protected def pastTheGate[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, saved)
  }

  /** `q`'s rows in the default regime and [[pastTheGate]], after
    * asserting that the second run planned its joins shuffled in every
    * execution it ran while the first broadcast somewhere. */
  protected def bothRegimes(what: String)(q: => DataFrame): (Set[Row], Set[Row]) = {
    def run(): (Set[Row], Seq[String]) = {
      val (rows, qes) = executions(q)
      (rows, qes.map(_.executedPlan.toString))
    }
    val (default, defaultPlans) = run()
    assert(defaultPlans.exists(_.contains("BroadcastHashJoin")),
      s"$what: the default regime broadcasts nothing, so the check below proves nothing")
    val (shuffled, shuffledPlans) = pastTheGate(run())
    assert(shuffledPlans.exists(p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
      s"$what: no shuffled join planned:\n${shuffledPlans.mkString("\n")}")
    shuffledPlans.foreach(p =>
      assert(!p.contains("BroadcastHashJoin"), s"$what: a gate still broadcasts:\n$p"))
    (default, shuffled)
  }
}
