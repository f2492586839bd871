package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import scala.collection.mutable

/** Plan and profile dev tool (not part of the driver contract). Every
  * subcommand takes a `q_a,q_b` or `all` query list ([[Harness.select]];
  * unknown names fail) and resets the session before each query, so no
  * query is measured against its predecessor's caches or memos.
  *
  * {{{
  * sbt "runMain graft.Dev counters <queries|all> [sfDir] [--runs n]"
  * sbt "runMain graft.Dev explain <queries|all> [sfDir] [outDir] [suffix]"
  * sbt "runMain graft.Dev profile <queries|all> [sfDir]"
  * }}}
  *
  *  - `counters` (sfDir defaults to sf0.001) prints each query's
  *    executed-plan counters as its `plan_budgets.tsv` line, measured
  *    under the test suite's session ([[Harness.specSession]]), so a
  *    line diffs directly against its budget. With `--runs n` (n > 1)
  *    each query runs n times and every run also prints its
  *    join/exchange/aggregate skeleton: the way to localize a
  *    nondeterministic PlanBudgetSpec counter (q_modularity's AQE
  *    stage-scheduling race was a streamed-side shuffle materializing
  *    before the SMJ→BHJ re-plan, 6 vs 7 exchanges run to run).
  *  - `explain` writes each query's `.explain("formatted")` output to
  *    `<outDir>/<query>_<suffix>.txt` (defaults sf0.1, plans/r11,
  *    before), the committed before/after plan evidence.
  *  - `profile` (sfDir defaults to sf0.1) runs each query once untimed
  *    and once timed through the noop sink and prints every Spark job
  *    of the timed run, the driver gaps between jobs and the heaviest
  *    stages: Bench answers "how long", this answers "which
  *    job/stage/operator".
  *
  * `counters` and `explain` execute the query on its OWN
  * QueryExecution (a noop write would build its own around the write
  * command, leaving the frame's AdaptiveSparkPlanExec unexecuted), so
  * what they read is AQE's final plan, with reuse, coalescing and
  * runtime join choices visible, not the initial one. */
object Dev {

  private val Usage =
    "usage: Dev counters <queries|all> [sfDir] [--runs n] | " +
      "explain <queries|all> [sfDir] [outDir] [suffix] | profile <queries|all> [sfDir]"

  def main(args: Array[String]): Unit = args.toList match {
    case "counters" :: rest =>
      val (pos, runs) = rest.indexOf("--runs") match {
        case -1 => (rest, 1)
        case i => (rest.patch(i, Nil, 2), rest(i + 1).toInt)
      }
      val names = queryNames(pos.headOption)
      val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.001")
      withSession(Harness.specSession()) { spark =>
        names.foreach(name => counters(spark, name, sfDir, runs).foreach(println))
      }
    case "explain" :: rest =>
      val sfDir = rest.lift(1).getOrElse("/root/testdata/sf0.1")
      val outDir = rest.lift(2).getOrElse("plans/r11")
      val suffix = rest.lift(3).getOrElse("before")
      val names = queryNames(rest.headOption)
      new java.io.File(outDir).mkdirs()
      withSession(Harness.session()) { spark =>
        names.foreach { name =>
          Harness.reset(spark)
          val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
          qe.toRdd.foreach(_ => ())
          val txt = qe.explainString(ExplainMode.fromString("formatted"))
          val f = new java.io.File(outDir, s"${name}_$suffix.txt")
          val w = new java.io.PrintWriter(f, "UTF-8")
          try w.write(txt) finally w.close()
          println(s"wrote ${f.getPath} (${txt.length} chars)")
        }
      }
    case "profile" :: rest =>
      val names = queryNames(rest.headOption)
      withSession(Harness.session()) { spark =>
        profile(spark, names, rest.lift(1).getOrElse("/root/testdata/sf0.1"))
      }
    case _ =>
      System.err.println(Usage)
      sys.exit(2)
  }

  private def queryNames(spec: Option[String]): Seq[String] =
    Harness.select(spec).keys.toSeq.sorted

  private def withSession(spark: SparkSession)(body: SparkSession => Unit): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  /** `runs` measurements of one query's executed-plan counters, each
    * after a [[Harness.reset]]: its `plan_budgets.tsv` line when
    * `runs == 1`, else per run a header, the line and the plan's
    * join/exchange/aggregate skeleton. */
  def counters(spark: SparkSession, name: String, sfDir: String, runs: Int = 1): Seq[String] =
    (1 to runs).flatMap { i =>
      Harness.reset(spark)
      val df = SparkEntry.queries(name)(spark, sfDir)
      val line =
        try PlanCounters.budgetLine(name, PlanCounters.measure(df))
        catch { case e: Throwable => s"$name\tFAILED: ${String.valueOf(e.getMessage).take(80)}" }
      if (runs == 1) Seq(line)
      else s"=== $name run $i" +: line +: skeleton(df)
    }

  private def skeleton(df: DataFrame): Seq[String] =
    PlanCounters.finalPlan(df).linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Join") || l.contains("Aggregate"))
      .toSeq

  private def profile(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    val sc = spark.sparkContext
    val listener = new JobStageListener
    sc.addSparkListener(listener)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      Harness.timedOnce(spark, "dev", name, fn, sfDir) // warm-up: JIT + codegen + scan index
      GraftColumnBridge.drainListeners(sc)
      listener.clear()
      val secs = Harness.timedOnce(spark, "dev", name, fn, sfDir)
      GraftColumnBridge.drainListeners(sc)
      val jobs = listener.jobs.sortBy(_.start)
      val stages = listener.stages
      println(f"\n===== $name: $secs%.2f s, ${jobs.size} jobs, ${stages.size} stages, " +
        f"sr ${stages.map(_.shuffleReadB).sum / 1024}%d KiB, sw ${stages.map(_.shuffleWriteB).sum / 1024}%d KiB =====")
      val tQuery0 = jobs.headOption.map(_.start).getOrElse(0L)
      jobs.foreach { j =>
        println(f"  job ${j.id}%-4d +${j.start - tQuery0}%-6d ms  dur ${j.end - j.start}%-6d ms")
      }
      val gaps = jobs.sliding(2).collect {
        case Seq(a, b) if b.start - a.end > 50 => (a.id, b.id, b.start - a.end)
      }.toSeq
      if (gaps.nonEmpty) {
        println("  driver gaps >50ms between jobs (planning/driver work):")
        gaps.foreach { case (a, b, g) => println(f"    job $a -> $b : $g ms") }
      }
      println("  top stages by task time:")
      stages.sortBy(-_.taskMs).take(14).foreach { s =>
        println(f"    stage ${s.id}%-4d wall ${s.wallMs}%-6d task ${s.taskMs}%-7d ms " +
          f"tasks ${s.tasks}%-3d sr ${s.shuffleReadB / 1024}%-8d KiB sw ${s.shuffleWriteB / 1024}%-8d KiB  ${s.name.take(90)}")
      }
    }
  }
}

object JobStageListener {
  final case class Job(id: Int, start: Long, end: Long = -1L)
  final case class Stage(id: Int, name: String, tasks: Int, taskMs: Long,
      shuffleReadB: Long, shuffleWriteB: Long, wallMs: Long)
}

/** Every job's start/end time and every completed stage's task time
  * and shuffle bytes, collected from the listener bus. Read after
  * `GraftColumnBridge.drainListeners`, which delivers every event
  * posted so far; [[clear]] after a drain starts a fresh record. */
final class JobStageListener extends SparkListener {
  import JobStageListener._

  private val jobMap = mutable.LinkedHashMap.empty[Int, Job]
  private val stageBuf = mutable.Buffer.empty[Stage]

  override def onJobStart(js: SparkListenerJobStart): Unit =
    synchronized { jobMap(js.jobId) = Job(js.jobId, js.time) }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    synchronized { jobMap.get(je.jobId).foreach(j => jobMap(je.jobId) = j.copy(end = je.time)) }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val si = sc.stageInfo
    val m = si.taskMetrics
    stageBuf += Stage(si.stageId, si.name, si.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L))
  }

  def clear(): Unit = synchronized { jobMap.clear(); stageBuf.clear() }
  def jobs: Seq[Job] = synchronized { jobMap.values.toSeq }
  def stages: Seq[Stage] = synchronized { stageBuf.toSeq }
}
