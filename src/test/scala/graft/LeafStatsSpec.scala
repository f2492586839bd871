package graft

import graft.ops.Iterate
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The materialization primitive's statistics and layout: every
  * `Iterate.leaf` carries its exact row count, counted by its own
  * checkpoint job, and the size gates read it back through
  * `Iterate.rows` without a job of their own; a leaf of a hash
  * layout keeps that layout. */
class LeafStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `f` runs. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftColumnBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      GraftColumnBridge.drainListeners(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("rows equals count() for a leaf, a projection of a leaf and an empty leaf") {
    val data = (1 to 57).map(i => (i.toLong, i % 5)).toDF("k", "g").repartition(3)
    val leaf = Iterate.leaf(data)
    assert(Iterate.rows(leaf) == 57L && leaf.count() == 57L)
    val proj = leaf.select(col("g").as("h"), (col("k") * 2).as("k2"))
    assert(Iterate.rows(proj) == proj.count())
    val empty = Iterate.leaf(data.filter(col("k") < 0))
    assert(Iterate.rows(empty) == 0L && empty.count() == 0L)
    val noPartitions = Iterate.leaf(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], data.schema))
    assert(Iterate.rows(noPartitions) == 0L && noPartitions.count() == 0L)
  }

  test("rows throws on a join of two leaves") {
    val a = Iterate.leaf((1 to 5).map(i => (i.toLong, i)).toDF("k", "x"))
    val b = Iterate.leaf((1 to 5).map(i => (i.toLong, -i)).toDF("k", "y"))
    intercept[IllegalArgumentException](Iterate.rows(a.join(b, "k")))
    // a non-leaf relation has no known count either
    intercept[IllegalArgumentException](Iterate.rows(spark.range(3).toDF()))
  }

  test("two leaves built from the same data carry equal Statistics") {
    def build = Iterate.leaf((1 to 200).map(i => (i.toLong, i.toString)).toDF("k", "s")
      .repartition(4, col("k")))
    val s1 = build.queryExecution.optimizedPlan.stats
    val s2 = build.queryExecution.optimizedPlan.stats
    assert(s1 == s2, s"$s1 vs $s2")
    assert(s1.rowCount.contains(BigInt(200)), s1.toString)
    // the size stays the conservative default: Catalyst's own join
    // choices over a leaf are what they were before the count
    assert(s1.sizeInBytes == org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes,
      s1.toString)
  }

  test("a leaf is one checkpoint job, and reading its rows runs none") {
    val narrow = (1 to 40).map(i => (i.toLong, i)).toDF("k", "x").filter(col("x") > 3)
    val (leaf, jobs) = jobsOf(Iterate.leaf(narrow))
    assert(jobs == 1, s"leaf of a narrow relation ran $jobs jobs")
    val (n, rowJobs) = jobsOf(Iterate.rows(leaf))
    assert(n == 37L && rowJobs == 0, s"rows = $n in $rowJobs jobs")
  }

  test("the size gate answers shuffle when the session switches broadcast joins off") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    assert(Iterate.fits(spark, 4000000L) && !Iterate.fits(spark, 4000001L))
    try {
      spark.conf.set(key, "-1")
      assert(!Iterate.fits(spark, 1L))
    } finally spark.conf.set(key, saved)
    assert(Iterate.fits(spark, 1L))
  }

  private def layoutOf(leaf: DataFrame): (LogicalRDD, Partitioning) = {
    val l = leaf.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.get
    (l, l.outputPartitioning)
  }

  test("a leaf of a hash repartition keeps the layout over its own output") {
    val data = (1 to 300).map(i => (i.toLong % 37, i)).toDF("k", "x")
    val leaf = Iterate.leaf(data.repartition(4, col("k")))
    val (l, layout) = layoutOf(leaf)
    assert(layout == HashPartitioning(Seq(l.output.head), 4), layout.toString)
    // every row sits in the bucket the layout names
    val buckets = leaf.select(spark_partition_id().as("p"), pmod(hash(col("k")), lit(4)).as("b"))
    assert(buckets.filter(col("p") =!= col("b")).count() == 0L)
    assert(buckets.select("p").distinct().count() == 4L)
    // the planner sees it: an aggregation on the key plans no exchange
    val agg = leaf.groupBy("k").agg(sum("x").as("s"))
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      agg.queryExecution.executedPlan.toString)
    assert(agg.count() == 37L)
    // a projection that renames the key carries the layout through
    val (rl, renamed) = layoutOf(Iterate.leaf(
      data.repartition(4, col("k")).select(col("x"), col("k").as("key"))))
    assert(renamed == HashPartitioning(Seq(rl.output(1)), 4), renamed.toString)
  }

  test("coalesced, range-partitioned and scan leaves keep no layout") {
    // 37 tiny groups: AQE coalesces the aggregation's 4 buckets
    val coalesced = Iterate.leaf((1 to 300).map(i => (i.toLong % 37, i)).toDF("k", "x")
      .groupBy("k").agg(sum("x").as("s")))
    assert(layoutOf(coalesced)._2 == UnknownPartitioning(0))
    assert(layoutOf(Iterate.leaf(spark.range(0, 100, 1, 3).toDF()))._2 == UnknownPartitioning(0))
    assert(layoutOf(Iterate.leaf(spark.read.parquet(s"$sf0001/nation.parquet")))._2 ==
      UnknownPartitioning(0))
  }
}
