package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The plumbing every configured main shares: the session factory, the
  * query selector, the between-query reset and the noop-sink timed
  * execution. */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** Local cores of every configured main, and by default its shuffle
    * partitions. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The session every configured main runs under: `master`
    * (`local[cpus]` by default), `partitions` shuffle partitions, UTC,
    * AQE on, the UI off, and `nanosAsLong` set at construction so
    * `Tables.events` need not mutate session state mid-query (see
    * Tables.scala). `graft.EntrySmoke` deliberately builds a bare
    * session instead: its point is that `SparkEntry.entry` and
    * `Tables.events` work without any of these confs. */
  def session(master: String = s"local[$cpus]", partitions: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The test suite's session, which `plan_budgets.tsv` is recorded
    * under: 4 partitions whatever SPARK_GRAFT_CPUS says, and
    * `local[4,2]` — up to 2 attempts per task, so FaultToleranceSpec
    * can inject a first-attempt failure and watch lineage recovery
    * (with `local[4]`, maxFailures=1 makes any injected failure fatal
    * instead of retried). */
  def specSession(): SparkSession = session("local[4,2]", partitions = 4)

  /** The `q_a,q_b` / `all` query selector (SPARK_GRAFT_ONLY by
    * default): unset or `all` selects the whole registry. Unknown names
    * fail loudly — a typo silently timing nothing would send a tuning
    * loop chasing phantom speedups. */
  def select(spec: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Map[String, Query] =
    spec match {
      case None | Some("all") => SparkEntry.queries
      case Some(list) =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(", ")}")
        SparkEntry.queries.filter { case (k, _) => names(k) }
    }

  /** Leaves nothing warm for the next query. CacheHygieneSpec proves
    * queries leave the CacheManager empty, so clearing it is defensive
    * only. The LPA memo is cleared too: q_communities/q_modularity
    * legitimately share a fixed point within a session (by design), but
    * a timed query must pay its own one-shot cost or the record stops
    * being comparable across rounds. localCheckpoint blocks are
    * GC-owned: dropping the memo/loop references queues them for the
    * ContextCleaner, which runs on GC — a lag that piles dead blocks
    * across back-to-back heavy runs (min-of-2 at sf1 OOM'd an 8g heap
    * in q_clustering's wedge stage before this), so every persisted RDD
    * is released eagerly instead. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    ops.Graph.clearMemos()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Executes a query through the `noop` sink, not `count()`: count
    * lets Catalyst eliminate order-insensitive operators (EliminateSorts
    * would drop the flagship global sort entirely), while noop executes
    * the full physical plan and discards rows at the sink. False, with
    * the failure on stderr under `[tag]`, when the query throws. */
  def runNoop(spark: SparkSession, tag: String, name: String, fn: Query, dir: String): Boolean =
    try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
    catch { case e: Throwable =>
      System.err.println(s"[$tag] $name @ $dir failed: ${e.getMessage}")
      false
    }

  /** One timed noop-sink execution in seconds, after a [[reset]]
    * outside the timer; -1 when the query failed, so a failure never
    * reports a (tiny) elapsed time as if it ran. */
  def timedOnce(spark: SparkSession, tag: String, name: String, fn: Query, dir: String): Double = {
    reset(spark)
    val t0 = System.nanoTime()
    val ok = runNoop(spark, tag, name, fn, dir)
    spark.catalog.clearCache()
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  /** Default slope gate per decade of scale: 10× the data, so a cost
    * ratio beyond 12 means cost grew faster than any input did. */
  val SlopeMax = 12.0

  /** `scale_budgets.tsv`: query → (its sf0.1→sf1 budget, its budget at
    * later decades); ContractSpec pins the file's four columns. */
  lazy val slopeBudgets: Map[String, (Double, Double)] = {
    val in = getClass.getResourceAsStream("/scale_budgets.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines().drop(1)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        f(0) -> (f(1).toDouble, f(2).toDouble)
      }.toMap
    finally in.close()
  }

  /** A query's slope budget at `decade` (0 = sf0.1→sf1), [[SlopeMax]]
    * for a query without a row. */
  def slopeBudget(query: String, decade: Int): Double =
    slopeBudgets.get(query).fold(SlopeMax)(b => if (decade <= 0) b._1 else b._2)

  /** The host's 1-minute load average, recorded next to timings. */
  def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage
}
