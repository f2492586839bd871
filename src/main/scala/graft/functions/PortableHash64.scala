package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.unsafe.types.UTF8String

/** The engine-portable 64-bit string hash the near-dup family keys on
  * (MinHash slots, SimHash votes): the code points folded as
  * `acc·31 + cp mod 2⁶¹−1` from 0, then the splitmix64 finalizer, as a
  * signed BIGINT. Mixed in all 64 bits, unlike [[PortableStringHash]],
  * and reproduced by DuckDB bit for bit ([[PortableHash64.duckdbSql]]),
  * unlike xxhash64. The wrapping `Long` arithmetic stays inside the
  * expression: as Column arithmetic, ANSI mode would raise on overflow. */
case class PortableHash64(child: Expression) extends CodePointHash {

  override def prettyName: String = "portable_hash64"

  override def hash(s: UTF8String): Long = PortableHash64.mix(fold(s))

  /** `31·acc + cp mod p` in 64 bits: `32·acc` is a 5-bit rotation of
    * the 61-bit residue (2⁶¹ ≡ 1 mod p). */
  protected def step(acc: Long, cp: Int): Long = {
    import PortableHash64.P
    var r = (((acc << 5) & P) | (acc >>> 56)) - acc
    if (r < 0) r += P
    r += cp
    if (r >= P) r - P else r
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableHash64 {
  private val P = (1L << 61) - 1
  private val C1 = 0xbf58476d1ce4e5b9L
  private val C2 = 0x94d049bb133111ebL

  /** The splitmix64 finalizer (wrapping multiplies). */
  def mix(x: Long): Long = {
    val z = (x ^ (x >>> 30)) * C1
    val y = (z ^ (z >>> 27)) * C2
    y ^ (y >>> 31)
  }

  def hash64(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.wrap1(c)(PortableHash64(_))

  /** The same hash as a DuckDB expression over the non-empty VARCHAR
    * expression `s` (the init-less `list_reduce` cannot fold an empty
    * list; its first step cp₁ equals the 0-init step). The fold and
    * finalizer run unsigned in HUGEINT, each intermediate bound by a
    * one-element `list_transform` lambda; a wrapping multiply goes
    * through 32-bit halves, because the full 64×64-bit product
    * overflows HUGEINT; the result wraps back to a signed BIGINT. */
  def duckdbSql(s: String): String = {
    def let(v: String, value: String)(body: String) = s"list_transform([$value], $v -> $body)[1]"
    def xorShift(v: String, k: Int) = s"xor($v, $v >> $k)"
    def mulWrap(v: String, c: Long) = {
      val (lo, hi) = (c & 0xFFFFFFFFL, c >>> 32)
      s"(($v % 4294967296) * $lo + ((($v // 4294967296) * $lo + ($v % 4294967296) * $hi)" +
        s" % 4294967296) * 4294967296) % ${BigInt(1) << 64}"
    }
    val fold = s"list_reduce(list_transform(string_split($s, ''), " +
      s"c -> CAST(unicode(c) AS HUGEINT)), (a, v) -> (a * 31 + v) % $P)"
    let("z0", fold)(let("z1", mulWrap(xorShift("z0", 30), C1))(
      let("z2", mulWrap(xorShift("z1", 27), C2))(let("u", xorShift("z2", 31))(
        s"CAST(CASE WHEN u >= ${BigInt(1) << 63} THEN u - ${BigInt(1) << 64} ELSE u END AS BIGINT)"))))
  }
}
