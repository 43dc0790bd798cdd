package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID, quality
  * scoring, token counting, and document fingerprinting — all pure Catalyst
  * expressions (codegen'd, column-pruned at the scan).
  */
object TextAnalysis {

  /** Stopword alternations per language for the n-gram/stopword heuristic
    * language detector. Deliberately tiny — the operator shape (argmax over
    * per-language regexp hit counts) is what scales; swap in fuller lists
    * for production.
    */
  val stopwordPatterns: Seq[(String, String)] = Seq(
    "en" -> """\b(the|and|is|of|to|in|that|it|for|was)\b""",
    "fr" -> """\b(le|la|les|et|est|de|un|une|que|pour)\b""",
    "de" -> """\b(der|die|das|und|ist|von|ein|eine|zu|mit)\b""",
    "es" -> """\b(el|la|los|las|es|de|un|una|que|por)\b""")

  // regexp_count, NOT size(regexp_extract_all): same non-overlapping match
  // count (≡ DuckDB len(regexp_extract_all)), but no per-row match-array
  // allocation — measured ~25% cheaper warm (round-4 A/B)
  private def hits(c: Column, pat: String): Column =
    regexp_count(lower(c), lit(pat))

  /** Per-language stopword hit counts + argmax guess ("und" = no hits). */
  def langId(textCol: Column): Column = {
    val counts = stopwordPatterns.map { case (l, p) => l -> hits(textCol, p) }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldLeft(when(best === 0, lit("und"))) { case (acc, (l, c)) =>
      acc.when(c === best, lit(l))
    }.otherwise(lit("und"))
  }

  /** Single-pass variant (the shipped shape): sw_* counts come from one
    * `TextProfile` struct evaluation instead of one regex scan per language;
    * the argmax when-chain is identical to [[langId]]. Equivalence with the
    * regex formulation is property-tested in OpsSpec and pinned by the
    * q26/q61 oracles.
    */
  def withLangId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val tp = col("__tp_lang")
    val swCols = stopwordPatterns.map { case (l, _) => s"sw_$l" }
    val withCounts = stopwordPatterns.foldLeft(
      df.withColumn("__tp_lang", GraftFunctions.text_profile(col(textCol)))) {
      case (d, (l, _)) => d.withColumn(s"sw_$l", tp(s"sw_$l"))
    }
    val best = swCols.map(col).reduce((a, b) => greatest(a, b))
    withCounts
      .withColumn("lang_guess",
        stopwordPatterns.foldLeft(when(best === 0, lit("und"))) {
          case (acc, (l, _)) => acc.when(col(s"sw_$l") === best, lit(l))
        }.otherwise(lit("und")))
      .drop("__tp_lang")
  }

  /** Quality signals: length, token count, mean word length, punctuation /
    * uppercase / stopword ratios, plus a composite [0,1] score. All
    * arithmetic is fixed-order double ops so the DuckDB oracle reproduces it
    * bit-for-bit.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val tp = col("__tp_q")
    val nChars = length(t)
    // every regex-derived count rides ONE TextProfile scan (semantics
    // contract in functions/TextProfile.scala); the arithmetic below is
    // unchanged fixed-order double math, so the DuckDB oracle still
    // reproduces it bit-for-bit
    val nTokens = tp("n_tokens")
    val nWords = tp("n_words")
    val nPunct = tp("n_punct")
    val nStop = tp(s"sw_${stopwordPatterns.head._1}")
    df.withColumn("__tp_q", GraftFunctions.text_profile(t))
      .withColumn("n_chars_m", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("n_words", nWords)
      .withColumn("n_punct", nPunct)
      .withColumn("n_stop", nStop)
      .withColumn("punct_ratio",
        when(nChars === 0, lit(0.0)).otherwise(nPunct.cast("double") / nChars))
      .withColumn("stop_ratio",
        when(nWords === 0, lit(0.0)).otherwise(nStop.cast("double") / nWords))
      .withColumn("mean_word_len",
        when(nWords === 0, lit(0.0))
          .otherwise(tp("n_alpha").cast("double") / nWords))
      .withColumn("quality_score",
        round(least(lit(1.0), nWords.cast("double") / 20.0) * 0.5 +
          when(nWords === 0, lit(0.0))
            .otherwise(least(lit(1.0), nStop.cast("double") / nWords * 5.0)) * 0.3 +
          when(nChars === 0, lit(0.0))
            .otherwise(lit(1.0) - least(lit(1.0), nPunct.cast("double") / nChars * 10.0)) * 0.2,
          6))
      .drop("__tp_q")
  }

  /** Token counts: whitespace tokens plus a BPE-ish segmentation (letter
    * runs / digit runs / single other symbols — the classic pre-tokenizer
    * regex) for an LLM-cost proxy. Both counts ride ONE TextProfile byte
    * scan (r6; was two regexp_extract_all passes, each allocating a
    * match array per row — the counts are bit-identical by the
    * TextProfile equivalence contract, q28-oracle-pinned).
    */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    val tp = GraftFunctions.text_profile(col(textCol))
    df.withColumn("ws_tokens", tp.getField("n_tokens"))
      .withColumn("bpeish_tokens", tp.getField("bpeish_tokens"))
  }

  /** Document fingerprints:
    *  - `fingerprint`: md5 of the sorted distinct token set — normalization-
    *    invariant identity (bag-of-words).
    *  - `seq_fingerprint`: 64-bit polynomial rolling hash of the token
    *    SEQUENCE (custom codegen'd Expression) — order-sensitive identity.
    */
  def fingerprints(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    df.withColumn("fingerprint",
        md5(concat_ws(" ", sort_array(array_distinct(toks)))))
      .withColumn("seq_fingerprint", GraftFunctions.rolling_hash64(toks))
  }

  /** PII patterns for redaction — the RE2 ∩ java.util.regex dialect subset
    * so the DuckDB oracle runs the IDENTICAL pattern strings (no lookaround,
    * no backrefs).
    */
  val EmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PhonePat = """\+1-555-[0-9]{4}"""
  val Ipv4Pat = """\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"""
  /** Group 1 = the domain. */
  val UrlPat = """https?://([A-Za-z0-9.-]+)(?:/[A-Za-z0-9./_%-]*)?"""

  /** PII scrubbing (training-data curation): count + redact emails, phone
    * numbers and IPv4 addresses to typed placeholders. Pure codegen'd
    * expressions — one projection, no shuffle, scales linearly. Email runs
    * before IP so a host inside an email's domain is counted once as email.
    */
  def piiRedact(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(EmailPat), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(PhonePat), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(t, lit(Ipv4Pat), lit(0))))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, lit(EmailPat), lit("<EMAIL>")),
            lit(PhonePat), lit("<PHONE>")),
          lit(Ipv4Pat), lit("<IP>")))
  }

  /** Gopher-style repetition signal: fraction of duplicate word 3-grams.
    * Whole-array expressions (split → transform window → distinct), no
    * explode — the row count never inflates, so this composes with any
    * downstream filter at 100 TB. 1-indexed element_at matches the DuckDB
    * list oracle exactly.
    */
  /** Word n-gram array (1-indexed sliding window ≡ the DuckDB list oracle).
    * Guarded: Spark's `sequence(1, k)` DESCENDS when k < 1, so short texts
    * must short-circuit to the empty array.
    */
  def wordNgrams(textCol: Column, n: Int): Column = {
    val w = split(trim(lower(textCol)), """\s+""")
    val cnt = greatest(size(w) - lit(n - 1), lit(0))
    when(cnt === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(w) - lit(n - 1)), i =>
        concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
  }

  def repetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val w = split(trim(lower(col(textCol))), """\s+""")
    val n3 = greatest(size(w) - lit(2), lit(0))
    val grams = wordNgrams(col(textCol), 3)
    df.withColumn("n_grams", n3)
      .withColumn("n_distinct_grams", size(array_distinct(grams)))
      .withColumn("dup_gram_frac",
        when(n3 === 0, lit(0.0)).otherwise(round(
          lit(1.0) - size(array_distinct(grams)).cast("double") /
            n3.cast("double"), 6)))
  }

  /** Unigram surprisal — the perplexity-proxy quality signal (real
    * pipelines score with a language model; the corpus-unigram proxy is the
    * standard cheap stand-in): per doc, the mean −ln p(token) under the
    * corpus's own unigram distribution. High = rare-token gibberish,
    * low = repetitive boilerplate.
    *
    * Distributed shape: one vocab aggregation over the corpus (classic
    * shuffle), the frequency table broadcast back (vocabulary ≪ corpus —
    * drop the explicit broadcast() if a web-scale vocab outgrows it and
    * Spark falls back to a shuffled join on the token key), one per-doc
    * aggregation. Rounded to 6 dp so double summation order (Spark vs
    * DuckDB vs partitioning) cannot flip the comparison.
    */
  def unigramSurprisal(df: DataFrame, idCol: String,
      textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val withTotal = freq.crossJoin(freq.agg(sum(col("cnt")).as("total")))
    toks.join(broadcast(withTotal), "tok")
      .groupBy(col(idCol))
      .agg(round(avg(-log(col("cnt").cast("double") / col("total"))), 6)
        .as("surprisal"))
  }

  /** URL/domain extraction (C4/RefinedWeb-style provenance stats): pull
    * every URL's domain and count docs×mentions per domain. explode is
    * row-bounded by actual URL occurrences; the aggregation is one hash
    * shuffle on domain.
    */
  def urlDomainCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(regexp_extract_all(col(textCol), lit(UrlPat), lit(1)))
        .as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_mentions"))
}
