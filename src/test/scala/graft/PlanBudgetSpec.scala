package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Suite-wide plan-budget gate (r5 verdict task 1). PlanSpec pins
  * ~45 queries' plans bespoke; every OTHER declared query could lose
  * a ReusedExchange, flip a broadcast join to sort-merge, or grow an
  * extra fact scan and still pass every oracle and test. This gate
  * closes that: a checked-in per-query table of the executed-plan
  * counters (src/test/resources/plan_budgets.tsv, recorded once at
  * sf0.001 under the shared test session) that every declared query
  * is re-measured against on every run. The contract is EXACT
  * equality on all eight counters — improvements are plan changes
  * too, so changing any plan requires editing its budget line in the
  * same commit, which is the point: plan shape becomes reviewable
  * diff, not silent drift.
  *
  * Regenerate after an intentional plan change with
  *   SPARK_GRAFT_REGEN_BUDGETS=1 sbt "testOnly graft.PlanBudgetSpec"
  * then review the TSV diff like code.
  */
class PlanBudgetSpec extends SparkSpec {

  private val budgetPath = Paths.get("src/test/resources/plan_budgets.tsv")

  private def measureAll(): Seq[(String, PlanCounters.Counters)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try name -> PlanCounters.measure(fn(spark, sf0001))
      finally {
        spark.catalog.clearCache() // never measure query N against N-1's state
        ops.Graph.clearMemos()   // budget the cold plan, not the memoized leaf
      }
    }

  test("every declared query's executed plan matches its checked-in budget line") {
    val measured = measureAll()
    if (sys.env.get("SPARK_GRAFT_REGEN_BUDGETS").contains("1")) {
      val lines = PlanCounters.header +: measured.map { case (n, c) => PlanCounters.budgetLine(n, c) }
      Files.write(budgetPath, lines.asJava)
      info(s"rewrote ${budgetPath} with ${measured.size} budget lines — review the diff")
    } else {
      assert(Files.exists(budgetPath),
        "plan_budgets.tsv missing — run with SPARK_GRAFT_REGEN_BUDGETS=1 to record it")
      val budgets = Files.readAllLines(budgetPath).asScala.drop(1)
        .filter(_.nonEmpty)
        .map { l =>
          val f = l.split("\t")
          f(0) -> PlanCounters.parse(f.drop(1))
        }.toMap
      val measuredMap = measured.toMap
      val missing = measuredMap.keySet -- budgets.keySet
      val stale = budgets.keySet -- measuredMap.keySet
      assert(missing.isEmpty,
        s"queries with no budget line (add them, reviewed): ${missing.toSeq.sorted.mkString(", ")}")
      assert(stale.isEmpty,
        s"budget lines for undeclared queries (remove them): ${stale.toSeq.sorted.mkString(", ")}")
      val diffs = measured.collect {
        case (n, c) if c != budgets(n) =>
          s"$n: measured [${c.tsv.replace("\t", " ")}] != budget [${budgets(n).tsv.replace("\t", " ")}]" +
            s" (fields: ${PlanCounters.header.split("\t").drop(1).mkString(" ")})"
      }
      assert(diffs.isEmpty,
        s"${diffs.size} plan(s) drifted from their recorded shape — if intentional, " +
          s"regenerate the TSV in this commit:\n${diffs.mkString("\n")}")
    }
  }

  test("Dev counters measures q_pagerank's exact budget line under the spec session") {
    val budget = Files.readAllLines(budgetPath).asScala.find(_.startsWith("q_pagerank\t"))
    assert(budget.nonEmpty, "q_pagerank has no budget line")
    assert(Dev.counters(spark, "q_pagerank", sf0001) == budget.toSeq)
  }
}
