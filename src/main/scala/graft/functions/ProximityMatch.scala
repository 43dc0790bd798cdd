package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sphinx-style proximity match `"a b"~N` (O14): true iff some window of
  * `span` consecutive tokens contains ALL `terms` (any order).
  *
  * Replaces the interpreted `exists(sequence(...), i => slice(...))` HOF
  * chain (HigherOrderFunctions are CodegenFallback) with a single
  * codegen'd pass over the text bytes: tokens are maximal `[A-Za-z0-9_]+`
  * byte runs — exactly `split(lower(text), "\\W+")` with empties dropped,
  * since Java `\W` is ASCII-classed and ASCII bytes never occur inside a
  * multi-byte UTF-8 sequence — compared case-folded against the
  * pre-folded terms. A last-seen position per term turns the ∃-window
  * check into a sliding minimum: after a token matches term t at position
  * j, the window [j-span+1, j] contains all terms iff min(lastSeen) ≥
  * j-span+1. O(bytes + matches·terms) per row vs the HOF chain's
  * O(tokens·terms·span), zero array materialization, stays inside
  * WholeStageCodegen.
  *
  * Divergence note (documented, same class as the RE2∩Java-safe regex
  * decisions): Unicode case folding that MAPS INTO ASCII (e.g. U+0130 →
  * "i"+combining dot under `lower()`) tokenizes differently than the HOF
  * chain; transcripts and the fixture corpus are ASCII-tokenized, and
  * non-ASCII bytes are term separators in both implementations.
  */
case class ProximityMatch(child: Expression, terms: Seq[String], span: Int)
  extends UnaryExpression {
  require(span >= 1, "proximity span must be >= 1")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "proximity_match"
  // null text → null (nullSafeEval), so the optimizer may infer
  // isnotnull(text) and push it to the parquet scan (review r6)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  @transient private lazy val termBytes: Array[Array[Byte]] =
    terms.map(ByteScan.foldAscii(_)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  override def nullSafeEval(input: Any): Any =
    ProximityMatch.matches(input.asInstanceOf[UTF8String], termBytes, span)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("proxTerms", termBytes, "byte[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ProximityMatch.matches($c, $termsRef, $span)")
  }

  override protected def withNewChildInternal(newChild: Expression): ProximityMatch =
    copy(child = newChild)
}

object ProximityMatch {
  import ByteScan.{eqFolded, isWordByte}

  /** Static helper shared by interpreted eval and generated code. */
  def matches(text: UTF8String, terms: Array[Array[Byte]], span: Int): Boolean = {
    val nTerms = terms.length
    if (nTerms == 0) return true
    val n = text.numBytes
    val lastSeen = new Array[Int](nTerms)
    java.util.Arrays.fill(lastSeen, Int.MinValue)
    var tokenIdx = 0
    var i = 0
    while (i < n) {
      while (i < n && !isWordByte(text.getByte(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && isWordByte(text.getByte(i))) i += 1
        var t = 0
        var updated = false
        while (t < nTerms) {
          if (eqFolded(text, start, i - start, terms(t))) {
            lastSeen(t) = tokenIdx; updated = true
          }
          t += 1
        }
        if (updated) {
          var minSeen = Int.MaxValue
          var u = 0
          while (u < nTerms) {
            if (lastSeen(u) < minSeen) minSeen = lastSeen(u); u += 1
          }
          if (minSeen >= tokenIdx - span + 1) return true
        }
        tokenIdx += 1
      }
    }
    false
  }
}
