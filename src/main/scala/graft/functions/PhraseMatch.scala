package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-scan Sphinx "phrase" match (O14): true iff the term sequence
  * occurs as CONSECUTIVE whole tokens of `text`. One codegen'd pass over
  * the text bytes — the `lower(text).rlike("\\bt1\\W+t2…\\b")` formulation
  * it replaces runs the java.util.regex engine (NFA backtracking + a full
  * lowercased copy of the text) per row.
  *
  * Exact equivalence with the rlike shape holds when every (folded) term
  * is a non-empty all-word-char token — the only case Grep compiles to this
  * expression (others keep rlike): in `\bt1\W+t2…\b`, each `\b` plus the
  * `\W+` separators force every term to align with a maximal
  * `[A-Za-z0-9_]+` run of the text, and `\W+` between word-char terms
  * cannot backtrack into a match, so the regex accepts iff the tokenization
  * of `text` contains the term sequence as consecutive tokens. Tokens are
  * byte runs (Java's `\w` is ASCII-classed; ASCII bytes never occur inside
  * a multi-byte UTF-8 sequence), compared ASCII-case-folded — same
  * documented fold divergence class as TermsMatch/ProximityMatch (Unicode
  * folds that map into ASCII, e.g. Kelvin K → k, diverge from `lower()`;
  * both corpora are ASCII-tokenized).
  *
  * The scan is KMP over token ids (failure links precomputed at compile
  * time), so no byte is re-read on a partial-match restart; early exit on
  * the first full occurrence.
  */
case class PhraseMatch(child: Expression, terms: Seq[String])
  extends UnaryExpression {
  require(terms.nonEmpty, "phrase requires at least one term")
  require(terms.map(ByteScan.foldAscii).forall(t =>
    t.nonEmpty && t.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')),
    "phrase fast path requires pure word-char terms (caller falls back to rlike)")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "phrase_match"
  // null text → null (nullSafeEval), so the optimizer may infer
  // isnotnull(text) and push it to the parquet scan — the rlike
  // formulation this replaces had that pushdown (review r6)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  @transient private lazy val compiled: PhraseMatch.Compiled =
    PhraseMatch.compile(terms)

  override def nullSafeEval(input: Any): Any =
    PhraseMatch.matches(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseMatchCompiled", compiled,
      "graft.functions.PhraseMatch.Compiled")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PhraseMatch.matches($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): PhraseMatch =
    copy(child = newChild)
}

object PhraseMatch {

  /** Distinct folded term bytes, the phrase as a sequence of ids into
    * them, and the KMP prefix function over that id sequence
    * (serializable — shipped to executors inside the expression).
    * `pi(i)` = length of the longest proper prefix of pattern[0..i] that is
    * also a suffix of it (textbook prefix function, indexed by position).
    */
  final case class Compiled(termBytes: Array[Array[Byte]], pattern: Array[Int],
                            pi: Array[Int])

  def compile(terms: Seq[String]): Compiled = {
    val folded = terms.map(ByteScan.foldAscii)
    val distinct = folded.distinct
    val pattern = folded.map(distinct.indexOf).toArray
    val pi = new Array[Int](pattern.length)
    var i = 1
    while (i < pattern.length) {
      var g = pi(i - 1)
      while (g > 0 && pattern(i) != pattern(g)) g = pi(g - 1)
      if (pattern(i) == pattern(g)) g += 1
      pi(i) = g
      i += 1
    }
    Compiled(
      distinct.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray,
      pattern, pi)
  }

  import ByteScan.{eqFolded, isWordByte}

  /** Static helper shared by interpreted eval and generated code. */
  def matches(text: UTF8String, c: Compiled): Boolean = {
    val n = text.numBytes
    val nTerms = c.termBytes.length
    val k = c.pattern.length
    var matched = 0
    var i = 0
    while (i < n) {
      while (i < n && !isWordByte(text.getByte(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && isWordByte(text.getByte(i))) i += 1
        // token id: which distinct term (if any) this token equals
        var id = -1
        var t = 0
        while (id < 0 && t < nTerms) {
          if (eqFolded(text, start, i - start, c.termBytes(t))) id = t
          t += 1
        }
        // KMP step over token ids (id == -1 matches nothing: collapses to 0)
        while (matched > 0 && id != c.pattern(matched)) matched = c.pi(matched - 1)
        if (id == c.pattern(matched)) matched += 1
        if (matched == k) return true
      }
    }
    false
  }
}
