package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared per-suite SparkSession (one JVM-wide session under sbt's
  * forked test JVM; getOrCreate dedups across suites). */
trait SparkSpec extends AnyFunSuite {
  // the factory's session with the suite's fixed settings (see
  // Harness.specSession): plan_budgets.tsv is recorded under it
  lazy val spark: SparkSession = Harness.specSession()

  lazy val sf0001 = "/root/testdata/sf0.001"
}
