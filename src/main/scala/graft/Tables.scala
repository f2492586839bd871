package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table loaders for the harness parquet testdata (TESTDATA.md).
  *
  * The reference reads CSV with runtime schema inference
  * (`assignment1/part2/task.py:22`). Here schemas come from parquet
  * footers, and resolving a footer is itself a Spark job (Spark's
  * parquet schema inference runs one per read). So each file's schema
  * is inferred once per JVM, by its first read, and every later read
  * passes the inferred schema to `spark.read.schema`, which runs no
  * job: the value is exactly what Spark inferred, so plans, types and
  * answers stay the same. The memo's key is the file's identity (each
  * leaf file's qualified path, length and modification time, listed on
  * the driver without a job) and the session's set parquet confs
  * (`spark.sql.legacy.parquet.nanosAsLong`, which [[events]] sets, and
  * `spark.sql.parquet.inferTimestampNTZ.enabled` change what a footer
  * resolves to), so a rewritten file or a changed conf infers afresh.
  * `Harness.reset` leaves it alone, as Spark's own `FileStatusCache`
  * does: it holds metadata of immutable inputs, not query results.
  *
  * Loaders are thin on purpose: every query declares its own
  * projection so column pruning reaches the scan (`ReadSchema` in
  * explain).
  */
object Tables {
  private final case class SchemaKey(files: Seq[(String, Long, Long)], confs: Map[String, String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val leaves = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = Iterator.continually(leaves).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    val key = SchemaKey(files, spark.conf.getAll.filter(_._1.contains("parquet")))
    // a miss infers outside the map's lock, which must not be held
    // across a Spark job: two racing first reads both infer the same
    // schema, and the first stored stays
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.putIfAbsent(key, df.schema)
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** `events.ts` has shipped under two physical parquet types across
    * harness rounds: TIMESTAMP(NANOS) (rounds 1–3; Spark's vectorized
    * reader rejects it unless `spark.sql.legacy.parquet.nanosAsLong`
    * makes it a raw BIGINT) and TIMESTAMP(MICROS, isAdjustedToUTC=
    * false) (round 4+; Spark 4 resolves it as TIMESTAMP_NTZ). Both
    * normalize to the same session-tz TIMESTAMP micros — under the
    * UTC sessions every harness entrypoint builds, the wall-clock
    * values are bit-identical to what DuckDB reads from the same file,
    * so oracles keep hash-matching whichever vintage is on disk.
    *
    * SIDE EFFECT (nanos vintage only): sets the legacy flag on the
    * session if unset, because a fresh unconfigured session cannot
    * even resolve a NANOS footer without it. A session that explicitly
    * sets it false fails loudly inside Spark's own schema converter
    * ("Illegal Parquet type") — the read genuinely requires the flag. */
  def events(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!org.apache.spark.sql.GraftColumnBridge.isConfExplicitlySet(s, key))
      s.conf.set(key, "true")
    normalizeTs(read(s, d, "events"))
  }

  /** Normalize an events-shaped relation's `ts` column to session-tz
    * TIMESTAMP micros whatever the physical source type was — the
    * single place both vintages (see [[events]]) converge. Pure column
    * arithmetic: stays inside the scan projection, no shuffle. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // raw nanos under the legacy flag → truncate like DuckDB
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // micros wall-clock → same instant under UTC sessions
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"unsupported events.ts physical type: $other")
    }
  }
  /** The on-disk (pre-normalization) schema of `events.parquet` — what
    * `readStream.schema(...)` needs, since file streams resolve no
    * footer themselves and [[normalizeTs]] runs AFTER the source. Set
    * apart from the ad-hoc `spark.read.parquet(...).schema` probe it
    * replaces (r4 advice): that probe only resolved the NANOS vintage
    * when an earlier [[events]] call happened to have set the legacy
    * flag on the shared session — this helper carries the same flag
    * guard itself, so callers no longer depend on statement order. */
  def rawEventsSchema(s: SparkSession, d: String): StructType = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!org.apache.spark.sql.GraftColumnBridge.isConfExplicitlySet(s, key))
      s.conf.set(key, "true")
    read(s, d, "events").schema
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
