package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Minimal long-key Bloom filter shared by the distributed build and
  * the codegen'd probe expression — both sides use the SAME
  * Kirsch–Mitzenmacher double hashing (two independent fmix64 mixes,
  * position_i = (h1 + i·h2) mod numBits), so there are no false
  * negatives by construction and the probe can run as a narrow filter
  * wherever the build's bit words are broadcast.
  *
  * Bit count is a power of two so the modulo is a mask; at the default
  * 16 bits/key with 5 hashes the false-positive rate is ≈ 1% — the
  * classic semi-join-pushdown operating point (1.2 bytes of filter per
  * dim key vs 8+ bytes per key for a broadcast hash set). */
object BloomBits {

  /** 64-bit finalizer from MurmurHash3 — the standard avalanche mix. */
  @inline def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** Set this key's k bit positions in `words` (numBits = words.length
    * × 64, a power of two). */
  def add(words: Array[Long], k: Int, key: Long): Unit = {
    val mask = words.length.toLong * 64 - 1
    val h1 = fmix64(key)
    val h2 = fmix64(key ^ 0x9e3779b97f4a7c15L) | 1L // odd => full period
    var i = 0
    while (i < k) {
      val pos = (h1 + i.toLong * h2) & mask
      words((pos >>> 6).toInt) |= (1L << (pos & 63))
      i += 1
    }
  }

  /** True iff every one of the key's k bit positions is set. */
  def mightContain(words: Array[Long], k: Int, key: Long): Boolean = {
    val mask = words.length.toLong * 64 - 1
    val h1 = fmix64(key)
    val h2 = fmix64(key ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < k) {
      val pos = (h1 + i.toLong * h2) & mask
      if ((words((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Smallest power-of-two bit count ≥ `nKeys × bitsPerKey` (min 1024
    * bits, so tiny dims don't degenerate). */
  def sizeBits(nKeys: Long, bitsPerKey: Int): Long = {
    var bits = 1024L
    val want = math.max(1L, nKeys) * bitsPerKey
    while (bits < want) bits <<= 1
    bits
  }

  /** Distributed build over a long key column: per-partition local bit
    * arrays OR-merged up a tree — one pass over the dim keys, no
    * shuffle, driver receives numBits/8 bytes total regardless of key
    * count. */
  def build(keys: DataFrame, keyCol: String, numBits: Long, k: Int): Array[Long] = {
    require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
      s"bloom: numBits must be a power of two >= 64, got $numBits")
    val words = (numBits >>> 6).toInt
    import keys.sparkSession.implicits._
    keys.select(org.apache.spark.sql.functions.col(keyCol).cast("long")).as[Long]
      .rdd.treeAggregate(new Array[Long](words))(
        (acc, key) => { add(acc, k, key); acc },
        (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a })
  }
}

/** Codegen'd Bloom probe over a long key: TRUE if the key might be in
  * the built filter (no false negatives — a FALSE is definitive). The
  * bit words ride into codegen as a reference object; the probe itself
  * is a static call into [[BloomBits]], so the filter stays inside
  * whole-stage codegen as a narrow map over the scan. */
case class BloomMightContain(child: Expression, words: Array[Long], k: Int)
    extends UnaryExpression {

  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType if words.nonEmpty && (words.length & (words.length - 1)) == 0 && k > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case LongType =>
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain: need power-of-two words and k > 0, got ${words.length}/$k")
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires bigint, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    BloomBits.mightContain(words, k, input.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, key => {
      val w = ctx.addReferenceObj("bloomWords", words, "long[]")
      s"${ev.value} = graft.functions.BloomBits.mightContain($w, $k, $key);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
