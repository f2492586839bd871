package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming smoke under a real `readStream` (r3 verdict gap #4: all
  * seven ST operators were green via batch faces and stream==batch
  * was spec-pinned, but the driver surface never executed a streaming
  * plan outside ScalaTest). Three sections, each a real file-source
  * stream over parquet written to a temp dir:
  *
  * 1. ST1/ST4 — the watermarked tumbling aggregation in APPEND mode,
  *    row parity with `Streaming.tumblingClosed` (the batch face that
  *    defines exactly the rows an append-mode sink must emit).
  *    The flush trick: append mode only emits windows closed by the
  *    watermark as of the PREVIOUS batch, so a single-batch stream
  *    emits nothing. The nudge file replays the max-ts event as a
  *    second batch — it lands in the final window, which the terminal
  *    watermark withholds by construction, so the duplicate can never
  *    change an emitted row; its only effect is advancing the
  *    watermark so batch 2 flushes every closed window.
  *
  * 2. ST11 (r10, verdict task 5) — `Streaming.maintainView` driven by
  *    the file source with a deliberately OUT-OF-ORDER split (the
  *    middle third of event time arrives first, then the earliest,
  *    then the latest — every key sees cross-batch lateness), one
  *    file per micro-batch. After EVERY micro-batch the current view
  *    (per user, the emitted row with the highest n_versions — n
  *    strictly grows per emission) must equal a from-scratch batch
  *    recompute over the prefix delivered so far: the confluence
  *    claim (StreamingSpec pins it on MemoryStream) exercised through
  *    the production source.
  *
  * 3. ST10 — `Streaming.retractions` over an ORDERED split (per-key
  *    arrival respects the (ts, event_id) event order — the standard
  *    CDC transport guarantee under which the stream's output is the
  *    batch face's LEAD pairs), per-batch set parity against the
  *    batch recompute of each prefix; PLUS the out-of-order split
  *    replayed through the retraction stream, where exact pairing is
  *    order-dependent by design (stale-on-arrival) but the SET of
  *    retracted versions must still be every version except each
  *    user's final latest — the bounded-state invariant itself.
  *
  * 4. (r11, r10 verdict task 3) CHECKPOINT RECOVERY for the
  *    flatMapGroupsWithState pair: each query processes split 1 under
  *    a real checkpointLocation, is STOPPED, restarts over the same
  *    checkpoint, and receives splits 2–3. After every post-restart
  *    micro-batch the union of rows emitted before and after the
  *    restart must satisfy the same parity contract as the unbroken
  *    run (view ≡ batch recompute for ST11; retraction-set ≡ the
  *    batch face's LEAD pairs for ST10), and the total emission count
  *    must equal the unbroken run's — a replayed batch would inflate
  *    it, a lost state store would deflate or diverge it.
  *
  * 5. (r11, r10 verdict task 4) BOUNDED STATE measured, not asserted
  *    in prose: after every micro-batch of the stateful sections the
  *    state store's numRowsTotal (from lastProgress.stateOperators)
  *    must equal the distinct keys delivered so far — the "one
  *    fixed-size record per key" claim both ST10 and ST11 ride at
  *    100 TB, read off the running query.
  *
  * Prints PARITY/IVM_PARITY/RETRACT_PARITY/RETRACT_OOO/RECOVERY/
  * STATE_BOUND lines; exits nonzero on any mismatch. */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("local[4]", partitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    var failed = false

    // ---- section 1: watermarked tumbling aggregation (ST1/ST4) ----
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_smoke")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("batch1.parquet"))

    // the batch face: exactly the append-mode emission contract
    val expected = streaming.Streaming.tumblingClosed(Tables.events(spark, sfDir))
      .collect().map(_.toSeq).toSet

    // readStream needs an explicit schema; rawEventsSchema resolves the
    // file's own footer (whatever ts vintage is on disk, with its own
    // nanos-flag guard — no ordering dependency on the Tables.events
    // call above), then the stream normalizes exactly as Tables.events
    // does
    val schema = Tables.rawEventsSchema(spark, sfDir)
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // one file per micro-batch:
        // the nudge file must be a SECOND batch or there is no
        // watermark advance to flush the first
        .parquet(dir.toString))
      .withWatermark("ts", "10 minutes")
    val q = streaming.Streaming.tumblingCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("smoke").start()
    try {
      q.processAllAvailable() // batch 1: everything aggregated, nothing emitted yet
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.orderBy(col("ts").desc).limit(1)
        .write.mode("overwrite").parquet(dir.resolve("nudge.parquet").toString)
      q.processAllAvailable() // batch 2: watermark advanced, closed windows flush
      val streamed = spark.table("smoke").collect().map(_.toSeq).toSet
      println(s"STREAM_ROWS=${streamed.size}")
      println(s"BATCH_ROWS=${expected.size}")
      val parity = streamed == expected && streamed.nonEmpty
      println(s"PARITY=${if (parity) "OK" else "MISMATCH"}")
      if (!parity) {
        (streamed -- expected).take(3).foreach(r => println(s"stream-only: $r"))
        (expected -- streamed).take(3).foreach(r => println(s"batch-only:  $r"))
        failed = true
      }
    } finally q.stop()

    // ---- sections 2 & 3: the flatMapGroupsWithState pair (ST11/ST10)
    // under the real file source (r9 verdict task 5) ----
    import spark.implicits._
    import streaming.Streaming
    val evDf = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    // deterministic thirds in global (ts, event_id) order — a prefix
    // split of the house event-time order, so delivering them in
    // order respects per-key order and any permutation is genuinely
    // out of order for every key that spans a boundary
    val parted = evDf.withColumn("third",
      ntile(3).over(Window.orderBy(col("ts"), col("event_id")))).cache()
    val thirds = (1 to 3).map(i => parted.filter(col("third") === i).drop("third"))

    // the watched dir must hold BARE parquet files: FileStreamSource's
    // top-level listing does not descend into a write's output
    // directory (observed live: a dir-only watched path reads 0 rows),
    // so each batch writes to scratch and the single part-file moves in
    def writeThird(d: java.nio.file.Path, t: DataFrame, seq: Int): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory("graft_smoke_w")
      t.coalesce(1).write.mode("overwrite") // one part-file = one micro-batch
        .parquet(scratch.resolve("w").toString)
      val part = java.nio.file.Files.list(scratch.resolve("w"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst.orElseThrow()
      java.nio.file.Files.move(part, d.resolve(s"b$seq.parquet"))
    }
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

    // State-store row count of the most recent micro-batch that HAS a
    // state operator (processAllAvailable can tail with a no-data
    // batch whose progress still reports the store totals; scan back
    // for robustness). numRowsTotal is the TOTAL rows held, not the
    // batch delta — exactly the bounded-state number.
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty => p.stateOperators.map(_.numRowsTotal).sum
      }.getOrElse(-1L)

    // The r10-verdict task-4 gate: state rows == distinct keys
    // delivered so far (both ST10 and ST11 hold exactly ONE record
    // per user_id ever seen — the 100 TB story measured off the
    // running query, not asserted in prose).
    def checkStateBound(tag: String, q: org.apache.spark.sql.streaming.StreamingQuery,
        prefix: DataFrame): Boolean = {
      val got = stateRows(q)
      val want = prefix.select(col("user_id")).distinct().count()
      val ok = got == want && want > 0
      println(s"STATE_BOUND_$tag=${if (ok) "OK" else s"MISMATCH(state=$got,keys=$want)"}")
      ok
    }

    // section 2: ST11 maintainView, OUT-OF-ORDER arrival (middle,
    // earliest, latest), view ≡ batch recompute after EVERY micro-batch
    val ivmDir = java.nio.file.Files.createTempDirectory("graft_stream_ivm")
    val oooOrder = Seq(1, 0, 2)
    writeThird(ivmDir, thirds(oooOrder.head), 0)
    val evSchema = spark.read.parquet(ivmDir.resolve("b0.parquet").toString).schema
    def fileEvents(d: java.nio.file.Path) = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").parquet(d.toString).as[Streaming.Ev]
    val ivmQ = Streaming.maintainView(fileEvents(ivmDir)).toDF()
      .writeStream.outputMode("append").format("memory").queryName("ivm").start()
    try {
      var prefix: DataFrame = null
      for ((t, i) <- oooOrder.zipWithIndex) {
        if (i > 0) writeThird(ivmDir, thirds(t), i)
        prefix = if (prefix == null) thirds(t) else prefix.union(thirds(t))
        ivmQ.processAllAvailable()
        // current view = per user, the latest emitted upsert (max
        // n_versions: each emission applied >=1 new version)
        val view = rows(spark.table("ivm")
          .withColumn("rn", row_number().over(
            Window.partitionBy("user_id").orderBy(col("n_versions").desc)))
          .filter(col("rn") === 1).drop("rn"))
        val recompute = rows(Streaming.maintainView(prefix.as[Streaming.Ev]).toDF())
        val ok = view == recompute && view.nonEmpty
        println(s"IVM_BATCH${i}_PARITY=${if (ok) "OK" else "MISMATCH"}")
        if (!ok) {
          (view -- recompute).take(3).foreach(r => println(s"ivm stream-only: $r"))
          (recompute -- view).take(3).foreach(r => println(s"ivm batch-only:  $r"))
          failed = true
        }
        if (!checkStateBound(s"IVM_BATCH$i", ivmQ, prefix)) failed = true
      }
    } finally ivmQ.stop()

    // section 3a: ST10 retractions, ORDERED arrival — per-batch set
    // parity with the batch face over each prefix
    val retDir = java.nio.file.Files.createTempDirectory("graft_stream_retract")
    writeThird(retDir, thirds(0), 0)
    val retQ = Streaming.retractions(fileEvents(retDir)).toDF()
      .writeStream.outputMode("append").format("memory").queryName("retract").start()
    try {
      var prefix: DataFrame = null
      for (i <- 0 until 3) {
        if (i > 0) writeThird(retDir, thirds(i), i)
        prefix = if (prefix == null) thirds(0) else prefix.union(thirds(i))
        retQ.processAllAvailable()
        val got = rows(spark.table("retract"))
        val want = rows(Streaming.retractions(prefix.as[Streaming.Ev]).toDF())
        // nonEmpty on the FINAL batch (r10 ADVICE): the full prefix is
        // guaranteed to contain per-user supersessions, so empty==empty
        // passing vacuously at i==2 would mean the stream emitted
        // nothing at all; earlier prefixes may legitimately be sparse.
        val ok = got == want && (i < 2 || got.nonEmpty)
        println(s"RETRACT_BATCH${i}_PARITY=${if (ok) "OK" else "MISMATCH"}")
        if (!ok) {
          (got -- want).take(3).foreach(r => println(s"retract stream-only: $r"))
          (want -- got).take(3).foreach(r => println(s"retract batch-only:  $r"))
          failed = true
        }
        if (!checkStateBound(s"RETRACT_BATCH$i", retQ, prefix)) failed = true
      }
    } finally retQ.stop()

    // section 3b: the OUT-OF-ORDER split through the retraction
    // stream — pairing is arrival-dependent by design, but the SET of
    // retracted versions must be every version minus each user's
    // final latest, whatever the order (bounded single-version state)
    val retOooQ = Streaming.retractions(fileEvents(ivmDir)).toDF()
      .writeStream.outputMode("append").format("memory").queryName("retract_ooo").start()
    try {
      retOooQ.processAllAvailable()
      val got = rows(spark.table("retract_ooo")
        .select("user_id", "retracted_ts", "retracted_event", "retracted_value"))
      val want = rows(evDf
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") > 1)
        .select(col("user_id"), col("ts").as("retracted_ts"),
          col("event_id").as("retracted_event"), col("value").as("retracted_value")))
      val ok = got == want && got.nonEmpty
      println(s"RETRACT_OOO=${if (ok) "OK" else "MISMATCH"}")
      if (!ok) {
        (got -- want).take(3).foreach(r => println(s"ooo stream-only: $r"))
        (want -- got).take(3).foreach(r => println(s"ooo batch-only:  $r"))
        failed = true
      }
    } finally retOooQ.stop()

    // ---- section 4: checkpoint recovery for the stateful pair (r10
    // verdict task 3) — the in-sandbox rendering of the reference's
    // worker-kill fault-tolerance concern, applied to streaming state:
    // kill the query between micro-batches, restart from the
    // checkpoint, and prove nothing was lost and nothing replays.
    // The memory sink refuses checkpoint recovery by design, so these
    // sections run the PARQUET file sink — the production-shaped
    // combination (exactly-once via the sink's _spark_metadata commit
    // log, which the batch read back below respects), accumulating
    // emissions across the stop/restart in one output log exactly as
    // a downstream consumer of the upsert/retraction stream would.
    def recoverySection(tag: String,
        mk: org.apache.spark.sql.Dataset[Streaming.Ev] => DataFrame,
        batchFace: DataFrame => DataFrame,
        // derive the "current materialized result" from ALL rows
        // emitted so far (identity for retractions; latest-upsert-per-
        // key for the IVM view)
        currentOf: DataFrame => DataFrame,
        expectedEmissions: Seq[DataFrame] => Long): Unit = {
      val recDir = java.nio.file.Files.createTempDirectory(s"graft_rec_$tag")
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_rec_ckpt_$tag")
      val outDir = java.nio.file.Files.createTempDirectory(s"graft_rec_out_$tag")
      writeThird(recDir, thirds(0), 0)
      def start() = mk(fileEvents(recDir))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", outDir.toString).start()
      def emitted(): DataFrame = spark.read.parquet(outDir.toString)
      val q1 = start()
      try {
        q1.processAllAvailable()
        if (!checkStateBound(s"${tag}_RECOVERY_PRE", q1, thirds(0))) failed = true
      } finally q1.stop() // the kill: state survives only via the checkpoint
      val q2 = start()
      try {
        var prefix: DataFrame = thirds(0)
        for (i <- 1 to 2) {
          writeThird(recDir, thirds(i), i)
          prefix = prefix.union(thirds(i))
          q2.processAllAvailable()
          val got = rows(currentOf(emitted()))
          val want = rows(currentOf(batchFace(prefix)))
          val ok = got == want && got.nonEmpty
          println(s"${tag}_RECOVERY_BATCH${i}_PARITY=${if (ok) "OK" else "MISMATCH"}")
          if (!ok) {
            (got -- want).take(3).foreach(r => println(s"$tag rec stream-only: $r"))
            (want -- got).take(3).foreach(r => println(s"$tag rec batch-only:  $r"))
            failed = true
          }
          if (!checkStateBound(s"${tag}_RECOVERY_BATCH$i", q2, prefix)) failed = true
        }
        // exactly-once across the restart: total emissions must equal
        // the unbroken run's count — a replayed micro-batch inflates
        // it, a lost state store deflates or diverges it
        val total = emitted().count()
        val wantTotal = expectedEmissions(thirds)
        val okTotal = total == wantTotal
        println(s"${tag}_RECOVERY_EMISSIONS=${if (okTotal) "OK" else s"MISMATCH(got=$total,want=$wantTotal)"}")
        if (!okTotal) failed = true
      } finally q2.stop()
    }

    // ST11 maintainView: view = latest upsert per key; each micro-batch
    // emits exactly one row per key present in it
    recoverySection("IVM",
      ds => Streaming.maintainView(ds).toDF(),
      pre => Streaming.maintainView(pre.as[Streaming.Ev]).toDF(),
      emitted => emitted
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("n_versions").desc)))
        .filter(col("rn") === 1).drop("rn"),
      ts => ts.map(_.select(col("user_id")).distinct().count()).sum)

    // ST10 retractions under ordered delivery: the emitted set itself
    // is the contract; every version except each user's latest is
    // retracted exactly once, so the unbroken count is |events|-|users|
    recoverySection("RETRACT",
      ds => Streaming.retractions(ds).toDF(),
      pre => Streaming.retractions(pre.as[Streaming.Ev]).toDF(),
      identity,
      ts => {
        val all = ts.reduce(_ union _)
        all.count() - all.select(col("user_id")).distinct().count()
      })

    if (failed) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
