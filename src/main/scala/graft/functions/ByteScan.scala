package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Shared tokenization primitives for the byte-scan text predicates
  * (TermsMatch, PhraseMatch, ProximityMatch). All three MUST tokenize
  * identically — TermIndex.probePlan's soundness argument assumes a file's
  * token blooms describe exactly the tokens any of these predicates can
  * hit — so the word-byte class and the ASCII case fold live here once.
  *
  * Tokens are maximal `[A-Za-z0-9_]+` byte runs (Java regex `\w` is
  * ASCII-classed; ASCII bytes never occur inside a multi-byte UTF-8
  * sequence, so byte runs = char runs), compared ASCII-case-folded
  * against terms folded by [[foldAscii]].
  */
private[graft] object ByteScan {

  /** A term as every match compares it: A-Z folded to a-z, every other
    * char kept as typed. Never `toLowerCase`: Unicode lowering turns U+212A
    * (Kelvin sign) into the pure token `k` and `Привет` into `привет`, and
    * neither then matches the text it was copied from, because the scans
    * (and the rlike phrase fallback's `(?i)`) fold text bytes A-Z only.
    */
  def foldAscii(term: String): String =
    term.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)

  @inline def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** ASCII-case-insensitive equality of text[start, start+len) vs `term`
    * (term is pre-folded; token bytes are word bytes by construction).
    */
  def eqFolded(text: UTF8String, start: Int, len: Int,
               term: Array[Byte]): Boolean = {
    if (term.length != len) return false
    var j = 0
    while (j < len) {
      var c = text.getByte(start + j)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if (c != term(j)) return false
      j += 1
    }
    true
  }
}
