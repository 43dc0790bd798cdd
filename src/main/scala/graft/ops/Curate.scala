package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end curation composition: the standard training-data funnel
  * (quality filter → language filter → exact dedup → deterministic sample)
  * as ONE declarative chain, so a pipeline author gets the whole recipe —
  * and its audit funnel — from a single config instead of hand-wiring the
  * individual operators.
  *
  * Stage ORDER is the scale decision: the two pure row filters (quality,
  * language) run first because they are shuffle-free codegen'd projections
  * that shrink the corpus before the one real shuffle (the dedup's
  * hash-groupBy on md5(text)); the hash sample runs last so the sampled
  * fraction applies to the cleaned corpus (a pre-dedup sample would skew
  * survivor rates toward duplicated content). Catalyst fuses the filters
  * with the scan, so the chain costs one scan + one shuffle regardless of
  * how many row-level stages the config enables.
  */
object Curate {

  /** Declarative knobs for the standard chain. `samplePermille = 1000`
    * disables the sampling stage; `langs = Seq.empty` disables the
    * language filter.
    */
  final case class Config(
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en"),
      samplePermille: Int = 1000) {
    require(minQuality >= 0.0 && minQuality <= 1.0)
    require(samplePermille >= 0 && samplePermille <= 1000)
  }

  /** The chain's intermediate frames, in order, labelled for the funnel.
    * Stage semantics are exactly the standalone operators':
    * TextAnalysis.qualityScore / withLangId, Dedup.dropExactDuplicates
    * (min-id keeper), Sampling.hashBucket (md5 micro-bucket rule).
    */
  private def stages(df: DataFrame, idCol: String, textCol: String,
      cfg: Config): Seq[(String, DataFrame)] = {
    val scored = TextAnalysis.withLangId(
      TextAnalysis.qualityScore(df, textCol), textCol)
    // The filter predicates are evaluated ONCE per row behind a pushdown
    // barrier (r6, guide §4.4): plain filters on the quality/lang aliases
    // get substituted into the Filter node by predicate pushdown, and
    // FilterExec does no subexpression elimination — the collapsed
    // predicate referenced text_profile(text) ~15×, i.e. ~15 byte scans
    // per scanned row (measured 2× the whole filter's cost at 100k docs,
    // round-6 A/B). Behind the barrier the predicate lives in a ProjectExec,
    // where codegen CSE evaluates text_profile once. Values unchanged —
    // the q61/q62 oracles pin the row sets.
    import graft.functions.PushdownBarrier.barrier
    val qualityOk = scored
      .withColumn("__keep_q", barrier(col("quality_score") >= cfg.minQuality))
      .filter(col("__keep_q")).drop("__keep_q")
    val langOk =
      if (cfg.langs.isEmpty) qualityOk
      else qualityOk
        .withColumn("__keep_l", barrier(col("lang_guess").isin(cfg.langs: _*)))
        .filter(col("__keep_l")).drop("__keep_l")
    // prune the scoring scratch columns (sw_*, count/ratio fields) before
    // the dedup shuffle — only the published columns ride the wire
    val deduped =
      Dedup.dropExactDuplicates(publishedCols(df, langOk), idCol, textCol)
    val sampled =
      if (cfg.samplePermille >= 1000) deduped
      else deduped.filter(
        Sampling.hashBucket(col(idCol), 1000) < cfg.samplePermille.toLong)
    Seq("0_input" -> df, "1_quality" -> qualityOk, "2_lang" -> langOk,
      "3_dedup" -> deduped, "4_sample" -> sampled)
  }

  /** The chain's published projection: the input's columns plus
    * `lang_guess` and `quality_score`.
    */
  private def publishedCols(input: DataFrame, scored: DataFrame): DataFrame =
    scored.select((input.columns.map(col) :+ col("lang_guess") :+
      col("quality_score")): _*)

  /** Curated survivors: the input columns plus `lang_guess` and
    * `quality_score` (both deterministic, 6-dp-rounded score — engine
    * portable).
    */
  def curate(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", cfg: Config = Config()): DataFrame =
    publishedCols(df, stages(df, idCol, textCol, cfg).last._2)

  /** Audit funnel: one row per stage with its surviving row count — the
    * per-stage lineage a curation run reports next to its output. Each
    * stage is a separate count job over the lazily re-derived chain;
    * callers at scale cache/checkpoint `df` first (the funnel is an audit
    * artifact, not the hot path).
    */
  def funnel(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", cfg: Config = Config()): DataFrame = {
    val counts = stages(df, idCol, textCol, cfg).map { case (name, d) =>
      d.agg(count(lit(1)).as("rows")).select(lit(name).as("stage"),
        col("rows"))
    }
    counts.reduce(_.unionByName(_))
  }
}
