package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst rendering of the SRP-LSH band keys over a 64-dim
  * `array<double>` embedding: all `nBands · bitsPerBand` hyperplane
  * dot products in ONE fused pass over the vector, each band's sign
  * bits packed little-endian into an int (one 32-bit band packs every
  * plane's bit into one word, the sign bit included).
  *
  * The HOF rendering — per plane, `aggregate(zip_with(v, hplane(j),
  * _*_), 0D, _+_)` — is CodegenFallback and walks 32 interpreted
  * expression trees per row, materializing 32 product arrays; this
  * expression reads each element once and updates all 32 accumulators
  * (planes are precomputed at construction). Semantics are
  * bit-identical on the declared domain: per plane, the dot
  * accumulates left-to-right from 0.0 over
  * `h_j(i) = (((i·(j+2) + j²+1) mod 37) − 18) / 18` — the same
  * integer-math-plus-one-division doubles the SQL literal and DuckDB
  * produce, so the sign (and bucket) can never straddle renderings
  * (pinned by VectorsSpec's parity test).
  *
  * Degenerate inputs mirror the HOF fold: a vector that isn't exactly
  * 64 elements, or has a null element, zeroes every dot in the HOF
  * rendering (`zip_with` pads with null → null product → null sum →
  * `when(null > 0)` → 0), so here too the keys are all zero. The one
  * deliberate divergence: a NULL input column yields NULL here (the
  * UnaryExpression null contract) where the HOF stack yields
  * `[0,0,0,0]` — on the declared domain (embeddings are non-null by
  * schema) the two are indistinguishable, and NULL-in → NULL-out is
  * the saner library contract. */
case class SrpBandKeys(child: Expression, nBands: Int, bitsPerBand: Int)
    extends UnaryExpression {

  require(nBands > 0 && bitsPerBand > 0 && bitsPerBand <= 32,
    s"bad SRP shape: $nBands bands x $bitsPerBand bits")

  private val dims = 64

  /** planes(j)(i) = h_j(i), precomputed once per expression instance;
    * values are exact: integer arithmetic then one double division. */
  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(nBands * bitsPerBand, dims) { (j, i) =>
      (((i * (j + 2) + j * j + 1) % 37) - 18) / 18.0
    }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_band_keys expects array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "srp_band_keys"

  def keys(v: ArrayData): ArrayData = {
    val out = new Array[Int](nBands)
    val n = v.numElements()
    var usable = n == dims
    var i = 0
    while (usable && i < n) { usable = !v.isNullAt(i); i += 1 }
    if (usable) {
      val x = v.toDoubleArray()
      val nPlanes = nBands * bitsPerBand
      var j = 0
      while (j < nPlanes) {
        val h = planes(j)
        var dot = 0.0
        var k = 0
        while (k < dims) { dot += x(k) * h(k); k += 1 }
        if (dot > 0) out(j / bitsPerBand) |= 1 << (j % bitsPerBand)
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    keys(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // loop lives in a plain JVM method (JIT-compiled once), generated
    // code calls it on a captured reference — same shape as
    // PortableStringHash, keeps the generated class small
    val ref = ctx.addReferenceObj("srpBandKeys", this, classOf[SrpBandKeys].getName)
    defineCodeGen(ctx, ev, c => s"$ref.keys($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SrpBandKeys {
  /** Column-API entry point (bridged — Column↔Expression converters
    * are private[sql] in Spark 4). */
  def srpBandKeys(c: Column, nBands: Int, bitsPerBand: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.wrap1(c)(SrpBandKeys(_, nBands, bitsPerBand))
}
