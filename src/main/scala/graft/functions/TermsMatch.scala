package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-scan multi-term token containment (O14, VERDICT r5 #3): true iff
  * at least `minHits` of the LISTED `terms` occur as whole tokens of
  * `text`. One codegen'd pass over the text bytes regardless of term count
  * — the `array_contains(split(lower(text), "\\W+"), t)` formulation it
  * replaces re-tokenized the text once per term (filter predicates get no
  * subexpression elimination), so a 5-term AND match scanned the text 5×.
  *
  * Exact containment semantics of the replaced shape, entry by entry over
  * the term LIST (duplicates each count, Sphinx quorum semantics):
  *  - a non-empty all-word-char term hits iff it equals some maximal
  *    `[A-Za-z0-9_]+` byte run, ASCII-case-folded — exactly the non-empty
  *    tokens of `split(lower(text), "\\W+")`, since Java's `\W` is
  *    ASCII-classed and ASCII bytes never occur inside a multi-byte UTF-8
  *    sequence;
  *  - the EMPTY term hits iff the split yields an empty token: text is
  *    empty, starts with a non-word byte (leading empty), or ends with one
  *    (Spark's split uses Java split(regex, -1), which KEEPS trailing
  *    empties);
  *  - a term containing a non-word char can never equal a token: counted
  *    as a permanent miss (MatchAll over such a term is constant-false,
  *    same as before).
  *
  * Modes map to thresholds: ANY = 1, ALL = terms.length, QUORUM(k) = k.
  * The scan early-exits as soon as `minHits` is reached or every distinct
  * term has been seen. Same ASCII-fold divergence note as ProximityMatch
  * (Unicode case folds that map into ASCII tokenize differently than
  * `lower()`; both corpora are ASCII-tokenized).
  */
case class TermsMatch(child: Expression, terms: Seq[String], minHits: Int)
  extends UnaryExpression {
  require(minHits >= 1, "minHits must be >= 1")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "terms_match"
  // null text → null (nullSafeEval), so the optimizer may infer
  // isnotnull(text) and push it to the parquet scan — the ANY/ALL
  // array_contains formulation this replaced had that pushdown; for
  // QUORUM the old sum>=k shape evaluated null text to false, which is
  // filter-equivalent (both drop the row), so the inference is sound
  // there too (review r6)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  // Distinct matchable terms with their list multiplicities; the empty
  // term's multiplicity rides separately (it matches positionally, not by
  // token scan). Non-word-char terms contribute nothing (permanent miss).
  @transient private lazy val compiled: TermsMatch.Compiled =
    TermsMatch.compile(terms)

  override def nullSafeEval(input: Any): Any =
    TermsMatch.matches(input.asInstanceOf[UTF8String], compiled, minHits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termsMatchCompiled", compiled,
      "graft.functions.TermsMatch.Compiled")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TermsMatch.matches($c, $ref, $minHits)")
  }

  override protected def withNewChildInternal(newChild: Expression): TermsMatch =
    copy(child = newChild)
}

object TermsMatch {

  /** Pre-folded distinct word-char terms + multiplicities (serializable —
    * shipped to executors inside the expression).
    */
  final case class Compiled(termBytes: Array[Array[Byte]], mults: Array[Int],
                            emptyMult: Int)

  def compile(terms: Seq[String]): Compiled = {
    val folded = terms.map(ByteScan.foldAscii)
    val emptyMult = folded.count(_.isEmpty)
    val word = folded.filter(t => t.nonEmpty && t.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'))
    val grouped = word.groupBy(identity).toSeq.sortBy(_._1)
    Compiled(
      grouped.map(_._1.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray,
      grouped.map(_._2.size).toArray,
      emptyMult)
  }

  import ByteScan.{eqFolded, isWordByte}

  /** Static helper shared by interpreted eval and generated code. */
  def matches(text: UTF8String, c: Compiled, minHits: Int): Boolean = {
    var hits = 0
    val n = text.numBytes
    // split's empty token: text empty, leading separator (leading empty),
    // or trailing separator (split(regex, -1) keeps trailing empties)
    if (c.emptyMult > 0 && (n == 0 || !isWordByte(text.getByte(0)) ||
        !isWordByte(text.getByte(n - 1))))
      hits += c.emptyMult
    if (hits >= minHits) return true
    val nTerms = c.termBytes.length
    if (nTerms == 0) return false
    val seen = new Array[Boolean](nTerms)
    var nSeen = 0
    var i = 0
    while (i < n) {
      while (i < n && !isWordByte(text.getByte(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && isWordByte(text.getByte(i))) i += 1
        var t = 0
        while (t < nTerms) {
          if (!seen(t) && eqFolded(text, start, i - start, c.termBytes(t))) {
            seen(t) = true
            nSeen += 1
            hits += c.mults(t)
            if (hits >= minHits) return true
            if (nSeen == nTerms) return false // every distinct term seen
          }
          t += 1
        }
      }
    }
    false
  }
}
