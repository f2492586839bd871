package graft

import graft.functions.PortableHash64
import org.apache.spark.sql.functions._

/** The portable 64-bit hash must equal its definition — the code
  * points folded as `acc·31 + cp mod 2⁶¹−1` from 0, then the
  * splitmix64 finalizer — evaluated here in plain `BigInt` arithmetic,
  * and must equal what DuckDB computes from
  * [[PortableHash64.duckdbSql]] (values pinned below), so the near-dup
  * oracles hold without DuckDB at test time. */
class PortableHash64Spec extends SparkSpec {
  import spark.implicits._

  private val P = (BigInt(1) << 61) - 1
  private val M64 = (BigInt(1) << 64) - 1

  private def reference(s: String): Long = {
    val fold = s.codePoints().toArray.foldLeft(BigInt(0))((acc, cp) => (acc * 31 + cp) mod P)
    def xs(z: BigInt, k: Int) = z ^ (z >> k)
    val z1 = (xs(fold, 30) * BigInt("bf58476d1ce4e5b9", 16)) & M64
    val z2 = (xs(z1, 27) * BigInt("94d049bb133111eb", 16)) & M64
    xs(z2, 31).toLong // two's-complement wrap of the unsigned result
  }

  private val inputs = Seq(
    "", "a", "Z", "hello world", "the quick brown",
    "x" * 200,                          // long: the fold wraps mod p many times
    "tab\tand\nnewline", "símbolo ñ",   // multi-byte code points
    "日本語テキスト",                      // 3-byte CJK
    "emoji 😀 pair", "😀𐍈",              // supplementary plane: one code point each
    "0123456789", " leading and trailing ")

  test("native hash equals the BigInt reference on ASCII, multi-byte, supplementary and empty inputs") {
    val rows = inputs.toDF("s")
      .select(col("s"), PortableHash64.hash64(col("s"))).as[(String, Long)].collect()
    rows.foreach { case (s, h) =>
      assert(h == reference(s), s"mismatch for '$s': native=$h reference=${reference(s)}")
    }
  }

  test("native hash equals the BigInt reference across the real corpus words") {
    val words = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .select(col("w"), PortableHash64.hash64(col("w"))).as[(String, Long)].collect()
    val bad = words.filter { case (w, h) => h != reference(w) }
    assert(words.nonEmpty && bad.isEmpty, bad.take(5).mkString(";"))
  }

  test("native hash equals values computed once by DuckDB from duckdbSql") {
    // DuckDB 1.0.0, `SELECT <duckdbSql("s")> FROM (SELECT ? AS s)`;
    // "" is absent because DuckDB's list_reduce cannot fold an empty
    // list (the finalizer maps the empty fold 0 to 0)
    val pinned = Seq(
      "a" -> -5836808829438595943L,
      "the quick brown" -> 1896296538856657223L,
      "símbolo ñ" -> 7115101897035854133L,
      "日本語テキスト" -> 5980191312029612571L,
      "emoji 😀 pair" -> 7063187669909784505L,
      "x" * 200 -> 5873713554260172490L)
    val got = pinned.map(_._1).toDF("s")
      .select(col("s"), PortableHash64.hash64(col("s"))).as[(String, Long)].collect().toMap
    pinned.foreach { case (s, h) => assert(got(s) == h, s"'$s': native ${got(s)}, DuckDB $h") }
    assert(Seq("").toDF("s").select(PortableHash64.hash64(col("s"))).as[Long].head() == 0L)
  }

  test("null propagates, non-string input is rejected at analysis") {
    val r = Seq[Option[String]](None, Some("a")).toDF("s")
      .select(PortableHash64.hash64(col("s")).as("h"))
      .collect()
    assert(r(0).isNullAt(0) && !r(1).isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("x").select(PortableHash64.hash64(col("x"))).collect()
    }
  }
}
