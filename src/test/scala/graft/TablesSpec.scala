package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The table loaders' schema memo: a table read again in the same JVM
  * infers nothing, and a rewritten file or a changed parquet conf is
  * never served the schema of the first read. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** `df` written as the single parquet file `dir/name.parquet`, in
    * place of whatever was there, as the harness ships its tables. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val out = Files.createTempDirectory("tables-spec-out")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
    val part = Files.list(out.resolve("t")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table read again in the same JVM runs no job") {
    Tables.orders(spark, sf0001).schema
    val (schema, jobs) = jobsOf(Tables.orders(spark, sf0001).schema)
    assert(schema.fieldNames.contains("o_orderkey"))
    assert(jobs.isEmpty, s"the second read ran ${jobs.size} jobs")
  }

  test("a file rewritten with other columns is read with its new schema") {
    val dir = Files.createTempDirectory("tables-spec")
    writeTable(Seq((1L, "a")).toDF("o_orderkey", "o_comment"), dir, "orders")
    val first = Tables.orders(spark, dir.toString)
    assert(first.columns.toSeq == Seq("o_orderkey", "o_comment"))
    assert(first.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    writeTable(Seq((2L, 3, 4.5)).toDF("o_orderkey", "o_custkey", "o_totalprice"), dir, "orders")
    val second = Tables.orders(spark, dir.toString)
    assert(second.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_totalprice"))
    assert(second.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq ==
      Seq((2L, 3, 4.5)))
  }

  test("a changed parquet conf infers afresh: inferTimestampNTZ decides the footer's type") {
    // a TIMESTAMP(MICROS, isAdjustedToUTC=false) column with no Spark
    // schema in the footer, as events.parquet ships: only the conf
    // decides how it resolves
    val dir = Files.createTempDirectory("tables-spec")
    val footer = MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val w = ExampleParquetWriter.builder(new HPath(dir.resolve("documents.parquet").toString))
      .withType(footer).build()
    try w.write(new SimpleGroupFactory(footer).newGroup().append("t", 1704164645000000L))
    finally w.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.getOption(key)
    def tType = Tables.documents(spark, dir.toString).schema("t").dataType
    try {
      spark.conf.set(key, "true")
      assert(tType == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(tType == TimestampType)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("warm executions run no schema-inference job") {
    for (name <- Seq("q_pagerank", "q_label_spread", "q_tpch_volume", "q_funnel", "q_wordcount")) {
      val fn = SparkEntry.queries(name)
      assert(Harness.runNoop(spark, "spec", name, fn, sf0001), s"$name failed")
      Harness.reset(spark)
      val (ok, jobs) = jobsOf(Harness.runNoop(spark, "spec", name, fn, sf0001))
      assert(ok, s"$name failed warm")
      val stages = jobs.flatMap(_.stageInfos.map(_.name))
      assert(stages.nonEmpty && !stages.exists(_.startsWith("parquet at")),
        s"$name warm stages: ${stages.mkString(", ")}")
    }
  }
}
