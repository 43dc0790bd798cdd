package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graftx.ColumnBridge
import org.apache.spark.sql.types._

/** Shared Bloom-filter layout for the per-file term index (alco's Sphinx
  * inverted index, rebuilt as a prunable sidecar — SURVEY §2 O14 stretch).
  *
  * Layout: a byte array of `numBits/8` bytes (numBits a power of two, so
  * bit positions come from a mask, never a modulo). Per token, k=6 bit
  * positions via Kirsch-Mitzenmacher double hashing: pos_i = h1 + i·h2,
  * with h1 = FNV-1a over the token's UTF-8 bytes, A-Z folded (the repo's
  * shared deterministic token hash) and h2 = fmix64(h1) | 1 (odd, so the
  * probe sequence cycles the full power-of-two ring). Everything is derivable
  * from the blob alone — numBits = bloom.length·8 — so index versions
  * built with different sizes stay probe-compatible side by side.
  */
object TokenBloom {
  /** Bits set per token. Fixed: stored blooms must outlive config changes. */
  final val K = 6

  /** FNV-1a over the token's UTF-8 bytes with A-Z folded to a-z and every
    * other byte kept — the byte scans' fold (ByteScan), so a raw stored
    * token hashes exactly as the folded term that matches it.
    */
  def h1(token: String): Long = {
    val b = token.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < b.length) {
      if (b(i) >= 'A' && b(i) <= 'Z') b(i) = (b(i) + 32).toByte
      i += 1
    }
    Fnv64.hashBytes(b)
  }
  def h2(h1: Long): Long = MinHashSlots.mix(h1, 0x517cc1b7) | 1L

  def set(bloom: Array[Byte], h1: Long, h2: Long): Unit = {
    val mask = bloom.length.toLong * 8 - 1
    var i = 0
    while (i < K) {
      val pos = (h1 + i * h2) & mask
      bloom((pos >>> 3).toInt) = (bloom((pos >>> 3).toInt) | (1 << (pos & 7).toInt).toByte).toByte
      i += 1
    }
  }

  def test(bloom: Array[Byte], h1: Long, h2: Long): Boolean = {
    val mask = bloom.length.toLong * 8 - 1
    var i = 0
    while (i < K) {
      val pos = (h1 + i * h2) & mask
      if ((bloom((pos >>> 3).toInt) & (1 << (pos & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }

  /** Plain-Scala probe (tests / driver-side diagnostics). */
  def mightContain(bloom: Array[Byte], token: String): Boolean = {
    val a = h1(token)
    test(bloom, a, h2(a))
  }

  /** How many of `terms` might be contained — the static helper shared
    * by BloomTermsHit's interpreted eval and generated code.
    * `hashes` holds (h1, h2) pairs flattened.
    */
  def hits(bloom: Array[Byte], hashes: Array[Long]): Int = {
    var n = 0
    var t = 0
    while (t < hashes.length) {
      if (test(bloom, hashes(t), hashes(t + 1))) n += 1
      t += 2
    }
    n
  }
}

/** Token-set Bloom aggregate: array<string> tokens per row → one
  * `numBits`-bit bloom blob per group (group = data file in the term
  * index). `h1` folds A-Z before hashing, so callers pass raw tokens and
  * probe with folded terms. A typed `Aggregator` on the public UDAF
  * surface: partial aggregation is map-side (one O(numBits/8) buffer per
  * open group, never per row), merge is a byte-wise OR
  * (associative/commutative), and state is constant-size regardless of
  * row count — 10^12-row safe.
  */
class TokenBloomAgg(numBits: Int)
  extends Aggregator[Seq[String], Array[Byte], Array[Byte]] {
  require(numBits >= 64 && Integer.bitCount(numBits) == 1,
    s"numBits must be a power of two >= 64, got $numBits")

  override def zero: Array[Byte] = new Array[Byte](numBits / 8)

  override def reduce(b: Array[Byte], tokens: Seq[String]): Array[Byte] = {
    if (tokens != null) tokens.foreach { t =>
      if (t != null && t.nonEmpty) {
        val a = TokenBloom.h1(t)
        TokenBloom.set(b, a, TokenBloom.h2(a))
      }
    }
    b
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b1.length) { b1(i) = (b1(i) | b2(i)).toByte; i += 1 }
    b1
  }

  override def finish(r: Array[Byte]): Array[Byte] = r
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object TokenBloomAgg {
  def token_bloom(tokens: Column, numBits: Int): Column =
    udaf(new TokenBloomAgg(numBits), ExpressionEncoder[Seq[String]]())
      .apply(tokens)
}

/** Scalar probe: how many of `terms` the row's bloom blob might contain
  * (IntType). The (h1, h2) pairs are precomputed once at plan time and
  * carried as a reference object, so the per-row work is K bit tests per
  * term over the blob — codegen'd, no per-row hashing or deserialization.
  * Sound for pruning: a bloom NEVER misses a token that was added, so
  * `hits < minMatch` proves no row in the file can satisfy the match.
  */
case class BloomTermsHit(child: Expression, terms: Seq[String])
  extends UnaryExpression {
  require(terms.nonEmpty, "at least one probe term")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bloom_terms_hit"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.catalogString}")
  }

  @transient private lazy val hashes: Array[Long] =
    terms.toArray.flatMap { t =>
      val a = TokenBloom.h1(t)
      Array(a, TokenBloom.h2(a))
    }

  override def nullSafeEval(input: Any): Any =
    TokenBloom.hits(input.asInstanceOf[Array[Byte]], hashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomTermHashes", hashes, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenBloom.hits($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomTermsHit =
    copy(child = newChild)
}

object BloomTermsHit {
  def bloom_terms_hit(bloom: Column, terms: Seq[String]): Column =
    ColumnBridge.column(BloomTermsHit(ColumnBridge.expression(bloom), terms))
}
