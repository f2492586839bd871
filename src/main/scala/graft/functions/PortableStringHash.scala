package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A string hash computed natively as one left fold of `step` over
  * the string's code points from 0, codegen'd at top level and a single
  * native eval when nested inside a higher-order lambda. The fold lives
  * in a plain JVM method that generated code calls on a captured
  * reference (keeps the generated class small and avoids Janino
  * re-compiling the fold per call site).
  *
  * Code points are decoded straight off the UTF-8 bytes — no transient
  * java.lang.String per value (a UTF-8→UTF-16 decode + char[] copy per
  * hashed word/shingle would hand back part of the win). 4-byte
  * sequences decode to the supplementary code point directly, which is
  * what `String.codePointAt` yields over its surrogate pair and what
  * DuckDB's `string_split(s, '')` yields — parity is spec-pinned on
  * ASCII, multi-byte, supplementary and empty inputs.
  *
  * CONTRACT: parity holds for VALID UTF-8 only. On malformed bytes
  * this fold consumes the raw sequence (truncated tails consume what
  * remains), while a java.lang.String path turns malformed input into
  * U+FFFD — the renderings diverge there by design. Spark string
  * columns are valid UTF-8 by construction (parquet/CSV readers
  * validate or replace at ingest), so the divergence is unreachable
  * from any declared query; feeding raw binary through these
  * expressions is out of contract. */
abstract class CodePointHash extends UnaryExpression {
  protected def step(acc: Long, cp: Int): Long

  final def fold(s: UTF8String): Long = {
    val nb = s.numBytes()
    var acc = 0L
    var i = 0
    while (i < nb) {
      val b0 = s.getByte(i)
      var len = UTF8String.numBytesForFirstByte(b0)
      var cp =
        if (len == 1) b0.toInt & 0x7F
        else b0.toInt & (0xFF >> (len + 1))
      if (i + len > nb) len = nb - i // truncated tail: consume what's there
      var j = 1
      while (j < len) {
        cp = (cp << 6) | (s.getByte(i + j) & 0x3F)
        j += 1
      }
      acc = step(acc, cp)
      i += len
    }
    acc
  }

  def hash(s: UTF8String): Long = fold(s)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashExpr", this, getClass.getName)
    defineCodeGen(ctx, ev, c => s"$ref.hash($c)")
  }
}

/** Native rendering of the engine-portable polynomial string hash
  * (fold of `31·acc + codePoint mod m`, init 0) — the small-range hash
  * the oracle-crossing operators key on (CMS cells, feature-hash
  * embeddings, the deterministic samples).
  *
  * The HOF rendering — `aggregate(split(s, ""), 0L, (a,c) => (a*31 +
  * ascii(c)) % m)` — is CodegenFallback and walks an interpreted
  * expression tree per CHARACTER; this is one fused loop. Semantics are
  * bit-identical to the HOF fold (and to DuckDB's init-less
  * `list_reduce`, whose first step `(0·31 + c₁) mod m ≡ c₁` matches the
  * 0-init) — pinned by PortableStringHashSpec. */
case class PortableStringHash(child: Expression, mod: Long) extends CodePointHash {

  require(mod > 0, s"mod must be positive, got $mod")

  override def prettyName: String = "portable_hash"

  protected def step(acc: Long, cp: Int): Long = (acc * 31L + cp) % mod

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableStringHash {
  /** Column-API entry point (bridged — Column↔Expression converters
    * are private[sql] in Spark 4). */
  def portableHash(c: Column, mod: Long): Column =
    org.apache.spark.sql.GraftColumnBridge.wrap1(c)(PortableStringHash(_, mod))

  /** The same hash as a DuckDB expression over the non-empty VARCHAR
    * expression `s` — the oracles' one rendering of it. */
  def duckdbSql(s: String, mod: Long): String =
    s"list_reduce(list_transform(string_split($s, ''), ch -> CAST(ascii(ch) AS BIGINT)), " +
      s"(a, v) -> (a * 31 + v) % $mod)"
}
