package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** The forked JVM of the benchmark. `run.py` writes a plan file (the
  * workload's queries in seed order, how many untimed executions each
  * gets and how long to time them); this object executes it on one
  * SparkSession configured like `graft.Bench` and writes one JSON record
  * of every execution. All metrics are derived from that record in
  * `run.py`.
  *
  * Usage: Main <planFile> <recordFile>
  *        Main --registry <outFile>   (query names and oracle SQL, no session)
  *
  * Every execution is measured the same way: wall and process CPU
  * (all JVM threads) around the registry call plus the sink write; the
  * Spark jobs, shuffle bytes and stored RDD blocks it caused, counted
  * by a listener that is drained after the execution, outside the
  * timed region. With `trace=1` the listener also keeps every job and
  * stage with its timing, call site and task metrics, the catalyst
  * phase times of every query execution, the broadcast exchanges of
  * every executed plan, and one span per boundary (block, execution,
  * build/sink, job, stage). */
object Main {
  final case class Plan(conf: Map[String, String]) {
    def apply(k: String): String = conf.getOrElse(k, sys.error(s"plan is missing '$k'"))
    def queries: Seq[String] = apply("queries").split(",").toSeq
    def trace: Boolean = apply("trace") == "1"
  }

  def readPlan(path: String): Plan = Plan(
    Files.readAllLines(Paths.get(path)).asScala
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)

  def main(args: Array[String]): Unit = args match {
    case Array("--registry", out) => Files.writeString(Paths.get(out), Json.obj(
      "queries" -> Json.arr(graft.SparkEntry.queries.keys.toSeq.sorted.map(Json.str)),
      "oracles" -> Json.map(graft.SparkEntry.oracleSql.map { case (k, v) => k -> Json.str(v) })))
    case Array(planPath, outPath) => run(planPath, outPath)
    case _ => sys.error("usage: Main <planFile> <recordFile> | Main --registry <outFile>")
  }

  /** Each registry query → the ops module whose `queries` map registers
    * it, the module whose lazy plan the sink write runs. */
  lazy val homes: Map[String, String] = {
    import graft.ops._
    Seq("Relational" -> Relational.queries, "Joins" -> Joins.queries, "Windows" -> Windows.queries,
      "Functions" -> Functions.queries, "PageRank" -> PageRank.queries, "Text" -> Text.queries,
      "Vectors" -> Vectors.queries, "Events" -> Events.queries, "AllReduce" -> AllReduce.queries,
      "Multimodal" -> Multimodal.queries, "Sources" -> Sources.queries, "Corpus" -> Corpus.queries,
      "Graph" -> Graph.queries, "Pipeline" -> Pipeline.queries)
      .flatMap { case (mod, qs) => qs.keys.map(_ -> mod) }.toMap
  }

  private def run(planPath: String, outPath: String): Unit = {
    val plan = readPlan(planPath)
    val queries = plan.queries
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"workload names queries missing from SparkEntry.queries: ${unknown.mkString(", ")}")
    val cpus = plan("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(spark, plan.trace)
    val readyMs = Clock.nowMs
    val run = new Runner(spark, plan, rec)
    run.all()
    rec.finish()
    val json = Json.obj(
      "ready_ms" -> Json.num(readyMs),
      "end_ms" -> Json.num(Clock.nowMs),
      "execs" -> Json.arr(rec.execs.toSeq),
      "spans" -> Json.arr(rec.spans.toSeq))
    Files.writeString(Paths.get(outPath), json)
    spark.stop()
  }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * clock the listener events use. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Read from /proc: the host's cumulative steal seconds and 1-min load,
  * and the CPU seconds of each live JIT compiler thread of this JVM. */
object Host {
  private def read(p: String): String =
    try Files.readString(Paths.get(p)) catch { case _: Exception => "" }
  def jitThreadsCpuS: Map[String, Double] =
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.flatMap { t =>
      val stat = read(s"$t/stat")
      val close = stat.lastIndexOf(')')
      if (close < 0 || !stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) None
      else {
        val f = stat.substring(close + 2).split(" ") // from field 3; utime, stime are 14, 15
        Some(t.getName -> (f(11).toDouble + f(12).toDouble) / 100.0)
      }
    }.toMap
  def stealS: Double = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
    .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(-1.0)
  def load1: Double = read("/proc/loadavg").split(" ").headOption
    .flatMap(_.toDoubleOption).getOrElse(-1.0)
}

/** Runs the plan in three blocks. Set-up: each query runs once `cold`,
  * in the fresh JVM, then `warmups` more untimed times. Timed: each
  * query, in plan order, runs back to back until its share of `seconds`
  * is used and it has `min_timed` timed executions. Check: each query
  * runs once more and writes its result as parquet for the output
  * check; that last execution is neither timed nor part of the set-up,
  * and the parquet writer's generated classes never occupy the codegen
  * cache before the timed executions. */
final class Runner(spark: SparkSession, plan: Main.Plan, rec: Recorder) {
  private val data = plan("data")
  private val queries = plan.queries
  private val warmups = plan("warmups").toInt
  private val seconds = plan("seconds").toDouble
  private val minTimed = plan("min_timed").toInt
  private val checkDir = plan("check_dir")

  def all(): Unit = {
    rec.block("setup") {
      for (p <- 0 to warmups; q <- queries) execute(q, if (p == 0) "cold" else "warm", p)
    }
    val t0 = System.nanoTime()
    queries.zipWithIndex.foreach { case (q, i) =>
      rec.block(q) {
        val budget = seconds * (i + 1) / queries.size
        var p = 0
        while (p < minTimed || (System.nanoTime() - t0) / 1e9 < budget) {
          execute(q, "timed", warmups + 1 + p)
          p += 1
        }
      }
    }
    rec.block("check") { queries.foreach(q => execute(q, "check", -1)) }
  }

  /** `graft.Bench`'s between-query hygiene, outside the timed region. */
  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    graft.ops.Graph.clearMemos()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def execute(q: String, kind: String, pass: Int): Unit = {
    hygiene()
    val fn = graft.SparkEntry.queries(q)
    rec.execution(q, kind, pass) { phase =>
      val df = phase("build")(fn(spark, data))
      phase("sink") {
        if (kind == "check") df.write.mode("overwrite").parquet(s"$checkDir/$q")
        else df.write.format("noop").mode("overwrite").save()
      }
    }
    spark.catalog.clearCache()
  }
}

/** Per-execution counters. The listener adds into the current one; the
  * runner drains the listener bus before reading it. */
final class Counters {
  var jobs, stages, tasks, blocks, matJobs, bcasts = 0L
  var shuffleWriteB, shuffleReadB, blockB, spillB, scanB, scanRows, bcastB = 0L
  var taskRunMs, taskCpuNs, taskGcMs, schedDelayMs, fetchWaitMs = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var sinkJobs, sinkTaskMs = 0L
  /** Module that the jobs run by the sink write are charged to. */
  var home = "sink"
  val moduleJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val moduleTaskMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val jobIntervals = mutable.Buffer.empty[(Double, Double)]
}

trait Phases { def apply[T](name: String)(f: => T): T }

final class Recorder(spark: SparkSession, trace: Boolean) {
  val execs = mutable.Buffer.empty[String]
  val spans = mutable.Buffer.empty[String]
  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger
  private val parents = mutable.Stack.empty[Int]
  @volatile private var cur = new Counters
  private val SpanKey = "perfbench.span"
  private val jobSpan = mutable.Map.empty[Int, (Int, Int, String, Double)]
  private val stageJob = mutable.Map.empty[Int, (Int, String, Boolean)]
  /** Call site of each SQL execution: the jobs AQE submits from its own
    * threads carry only the execution id, not a useful call site. */
  private val sqlSite = mutable.Map.empty[Long, String]
  private val runSpan = open()
  private val runStartMs = Clock.nowMs

  /** Spark call-site file → repo module, or None for the benchmark's own
    * file: a job the sink write starts. */
  private val SiteFile = """([A-Za-z0-9_]+)\.scala:\d+""".r
  private def moduleOf(site: String): Option[String] =
    SiteFile.findAllMatchIn(site).map(_.group(1)).toSeq.lastOption match {
      case Some("PerfBench") => None
      case Some(f) => Some(f)
      case None => Some("spark")
    }

  private def open(): Int = nextSpan.getAndIncrement()

  private def span(id: Int, parent: Int, kind: String, name: String, t0: Double, t1: Double): Unit =
    if (trace) spans.synchronized {
      spans += Json.obj("id" -> Json.num(id), "parent" -> Json.num(parent),
        "kind" -> Json.str(kind), "name" -> Json.str(name),
        "start_ms" -> Json.num(t0), "end_ms" -> Json.num(t1))
    }

  private def within[T](kind: String, name: String)(body: Int => T): T = {
    val id = open()
    val parent = parents.headOption.getOrElse(runSpan)
    val t0 = Clock.nowMs
    parents.push(id)
    try body(id) finally {
      parents.pop()
      span(id, parent, kind, name, t0, Clock.nowMs)
    }
  }

  def block(name: String)(body: => Unit): Unit = within("block", name)(_ => body)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = cur
      c.jobs += 1
      if (trace) {
        val props = Option(e.properties)
        val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => sqlSite.get(id.toLong))
          .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
        // the sink write runs the query's lazy plan: its jobs are charged to
        // the module that registers the query, and counted as sink jobs too
        val fromSite = moduleOf(site)
        val inSink = fromSite.isEmpty
        val mod = fromSite.getOrElse(c.home)
        c.moduleJobs(mod) += 1
        if (inSink) c.sinkJobs += 1
        if (site.startsWith("localCheckpoint") || site.startsWith("checkpoint")) c.matJobs += 1
        val parent = props.flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toInt).getOrElse(runSpan)
        jobSpan(e.jobId) = (open(), parent, site, e.time.toDouble)
        e.stageInfos.foreach(s => stageJob(s.stageId) = (e.jobId, mod, inSink))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if trace => sqlSite(s.executionId) = s.description
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (trace) {
      jobSpan.remove(e.jobId).foreach { case (id, parent, site, t0) =>
        span(id, parent, "job", site, t0, e.time.toDouble)
        cur.jobIntervals += ((t0, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = cur
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      if (trace) {
        c.stages += 1
        c.tasks += si.numTasks
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.taskGcMs += m.jvmGCTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillB += m.diskBytesSpilled
          c.scanB += m.inputMetrics.bytesRead
          c.scanRows += m.inputMetrics.recordsRead
        }
        val (job, mod, inSink) = stageJob.getOrElse(si.stageId, (-1, "spark", false))
        if (m != null) {
          c.moduleTaskMs(mod) += m.executorRunTime
          if (inSink) c.sinkTaskMs += m.executorRunTime
        }
        val parent = jobSpan.get(job).map(_._1).getOrElse(runSpan)
        for (a <- si.submissionTime; b <- si.completionTime)
          span(open(), parent, "stage", si.name, a.toDouble, b.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (trace) {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null && info.finishTime > 0) {
        cur.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
        cur.blocks += 1
        cur.blockB += b.memSize + b.diskSize
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = cur
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      broadcasts(qe.executedPlan).foreach { b =>
        c.bcasts += 1
        c.bcastB += b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  if (trace) spark.listenerManager.register(qeListener)

  /** Broadcast exchanges of an executed plan, looking through AQE stages
    * and subqueries; a reused exchange is not counted twice. */
  private def broadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] = {
    val children: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    (p match { case b: BroadcastExchangeExec => Seq(b); case _ => Nil }) ++ children.flatMap(broadcasts)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcs.map(_.getCollectionTime).sum
  private def compileMsSum: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }
  private def drain(): Unit = org.apache.spark.PerfBenchBridge.drain(spark.sparkContext)

  /** One execution of one query. `body` receives the phase wrapper
    * that times `build` and `sink` and tags the jobs each one starts. */
  def execution(q: String, kind: String, pass: Int)(body: Phases => Unit): Unit = {
    drain()
    val c = new Counters
    c.home = Main.homes.getOrElse(q, "sink")
    cur = c
    val sc = spark.sparkContext
    val steal0 = Host.stealS
    val gc0 = gcMs
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgMs0 = compileMsSum
    val phaseS = mutable.Map.empty[String, Double]
    val phases = new Phases {
      def apply[T](name: String)(f: => T): T = within(name, name) { id =>
        sc.setLocalProperty(SpanKey, id.toString)
        val p0 = System.nanoTime()
        try f finally {
          phaseS(name) = (System.nanoTime() - p0) / 1e9
          sc.setLocalProperty(SpanKey, null)
        }
      }
    }
    var err = ""
    val drv0 = threads.getCurrentThreadCpuTime
    val jit0 = Host.jitThreadsCpuS
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    within("execution", q) { _ =>
      try body(phases)
      catch { case e: Throwable =>
        err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        System.err.println(s"[perfbench] $q ($kind) failed: $err")
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    // a compiler thread that exits mid-execution takes its share with it
    val jitCpu = Host.jitThreadsCpuS.map { case (t, c) => c - jit0.getOrElse(t, 0.0) }.sum
    val drv = (threads.getCurrentThreadCpuTime - drv0) / 1e9
    val t1 = Clock.nowMs
    drain()
    val jobWall = union(c.jobIntervals.toSeq)
    execs += Json.obj(
      "q" -> Json.str(q), "kind" -> Json.str(kind), "pass" -> Json.num(pass),
      "ok" -> (if (err.isEmpty) "true" else "false"), "error" -> Json.str(err),
      "end_ms" -> Json.num(t1),
      "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu),
      "build_s" -> Json.num(phaseS.getOrElse("build", 0.0)),
      "exec_s" -> Json.num(phaseS.getOrElse("sink", 0.0)),
      "driver_cpu_s" -> Json.num(drv),
      "jit_s" -> Json.num(jitCpu),
      "gc_s" -> Json.num((gcMs - gc0) / 1e3),
      "compiles" -> Json.num(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
      "compile_s" -> Json.num(math.max(0.0, compileMsSum - cgMs0) / 1e3),
      "steal_s" -> Json.num(Host.stealS - steal0), "load1" -> Json.num(Host.load1),
      "jobs" -> Json.num(c.jobs), "shuffle_write_b" -> Json.num(c.shuffleWriteB),
      "blocks" -> Json.num(c.blocks), "block_b" -> Json.num(c.blockB),
      "stages" -> Json.num(c.stages), "tasks" -> Json.num(c.tasks),
      "task_run_s" -> Json.num(c.taskRunMs / 1e3), "task_cpu_s" -> Json.num(c.taskCpuNs / 1e9),
      "task_gc_s" -> Json.num(c.taskGcMs / 1e3), "sched_delay_s" -> Json.num(c.schedDelayMs / 1e3),
      "shuffle_read_b" -> Json.num(c.shuffleReadB), "fetch_wait_s" -> Json.num(c.fetchWaitMs / 1e3),
      "spill_b" -> Json.num(c.spillB), "scan_b" -> Json.num(c.scanB),
      "scan_rows" -> Json.num(c.scanRows),
      "analysis_s" -> Json.num(c.analysisMs / 1e3), "optimization_s" -> Json.num(c.optimizationMs / 1e3),
      "planning_s" -> Json.num(c.planningMs / 1e3),
      "broadcasts" -> Json.num(c.bcasts), "broadcast_b" -> Json.num(c.bcastB),
      "mat_jobs" -> Json.num(c.matJobs),
      "sink_jobs" -> Json.num(c.sinkJobs), "sink_task_s" -> Json.num(c.sinkTaskMs / 1e3),
      "gap_s" -> Json.num(if (trace) math.max(0.0, wall - jobWall / 1e3) else 0.0),
      "module_jobs" -> Json.map(c.moduleJobs.toMap.map { case (k, v) => k -> Json.num(v) }),
      "module_task_s" -> Json.map(c.moduleTaskMs.toMap.map { case (k, v) => k -> Json.num(v / 1e3) }))
  }

  /** Total length covered by a set of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (a, b)) =>
      if (b <= end) (acc, end)
      else (acc + b - math.max(a, end), b)
    }._1

  def finish(): Unit = {
    drain()
    span(runSpan, -1, "run", "run", runStartMs, Clock.nowMs)
  }
}

/** Minimal JSON writer; values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def map(m: Map[String, String]): String = obj(m.toSeq.sortBy(_._1): _*)
  def arr(vs: Seq[String]): String = vs.mkString("[", ",\n", "]")
}
