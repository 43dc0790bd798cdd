package graft

import graft.alco._
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data operator suite), each with ANSI-SQL
  * DuckDB oracle where SQL-expressible (bare table names resolve to the
  * sfDir parquet files). Column names/types are aligned between the Spark
  * plan and the oracle SQL (the driver's compare hashes by sorted column
  * name).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRead(s, Seq(s"$dir/$name.parquet"))

  /** Flagship: the full alco parse→enrich→route→aggregate loop over a
    * deterministically generated transcripts table (BASELINE.json
    * north_star); returns the per-sink per-day rollup counts.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = Gen.turns(spark, 20000L)
    val (ok, _) = Parse.splitQuarantine(Parse.stage(turns.toDF()))
    val routed = Route.replaceSemantics(
      Route.stage(Enrich.stage(spark)(ok)))
    Agg.rollupCounts(routed)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── O21/O33: per-(key, day) count rollup — the alco primary output ──
    "q01_rollup_counts" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))),

    // ── O7: JSON field parse out of a text column ──
    "q02_json_parse" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        regexp_extract(col("props"), """"k":\s*(\d+)""", 1)
          .cast("long").as("k"))),

    // ── O8: timestamp extraction / truncation ──
    "q03_ts_extract" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        to_date(col("ts")).as("day"),
        unix_timestamp(col("ts")).as("epoch_s"),
        hour(col("ts")).as("hh"))),

    // ── O12: equality/IN predicate filters (pushed to parquet) ──
    "q04_filter_in" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type").isin("click", "error") && col("value") > 50.0)
        .select(col("event_id"), col("event_type"), col("value"))),

    // ── O14: full-text token match, OR semantics. ONE codegen'd byte scan
    // (TermsMatch, r6) — the arrays_overlap(tokens(text), …) formulation
    // materialized the full token array per row; same row set (tokens are
    // the \w+ runs either way), q05 oracle unchanged ──
    "q05_match_any" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(graft.functions.GraftFunctions.terms_match(col("text"),
          Seq("spark", "vector"), 1))
        .select(col("doc_id"))),

    // ── O14: full-text token match, AND semantics — one byte scan for both
    // terms (was: two array_contains over two tokenizations, r6) ──
    "q06_match_all" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(graft.functions.GraftFunctions.terms_match(col("text"),
          Seq("table", "query"), 2))
        .select(col("doc_id"))),

    // ── O16: broadcast-hash-join enrich (fact × small dims). The dims are
    // pre-joined (customer ⋈ nation is dim-sized) so the FACT side takes
    // ONE broadcast hash probe per row instead of two (r6, guide §3 —
    // inner-join reordering, result-identical; the snowflake → star
    // collapse every warehouse planner does) ──
    "q07_enrich_bcast" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
            .join(t(s, dir, "nation"),
              col("c_nationkey") === col("n_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))),

    // ── O17: large×large equi-join (SMJ/SHJ via AQE) ──
    "q08_join_large" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))),

    // ── O18: anti join (resume-from-checkpoint shape) ──
    "q09_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))),

    // ── O18: semi join ──
    "q10_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))),

    // ── O22: distinct-value sets per key (alco Redis SADD analog) ──
    "q11_distinct_sets" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(array_join(sort_array(collect_set(col("user_id").cast("string"))), ",")
          .as("users"))),

    // ── O22: exact distinct cardinality ──
    "q12_count_distinct" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("nd"))),

    // ── O26/O27: stable ordering + distributed top-k ──
    "q13_topk" -> ((s, dir) =>
      t(s, dir, "events")
        .orderBy(col("ts").desc, col("event_id"))
        .select(col("event_id"), col("user_id"), col("value"))
        .limit(100)),

    // ── O27: offset pagination — bounded top-(offset+limit) FIRST
    // (distributed TakeOrdered), so the single-partition row_number window
    // only ever sees offset+limit rows, never the table ──
    "q14_pagination" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("ts"))
        .orderBy(col("ts"), col("event_id")).limit(300)
        .select(col("event_id"),
          row_number().over(Window.orderBy(col("ts"), col("event_id"))).as("rn"))
        .filter(col("rn").between(201, 300))),

    // ── O28: context window (lag/lead within group) ──
    "q15_context_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(col("event_id"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
    }),

    // ── O29: union ──
    "q16_union" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "click").select(col("event_id"))
        .union(e.filter(col("value") > 90.0).select(col("event_id")))
        .distinct()
    }),

    // ── O34: REPLACE/last-write-wins dedup, deterministic. MaxByRow hash
    // aggregate, NOT a row_number window: the window sorts every group's
    // rows after the shuffle, the aggregate collapses them map-side and
    // ships one buffered row per (user_id, event_type) — same plan shape
    // as the pipeline's REPLACE stage (PlanSpec guards both) ──
    "q17_dedup_replace" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(graft.functions.MaxByRow.max_by_row(
          col("event_id"), struct(col("ts"), col("event_id"))).as("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"))),

    // ── O24: rollup grouping sets ──
    "q18_rollup_all" -> ((s, dir) =>
      t(s, dir, "events").rollup(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"), col("n"))),

    // ── dedup: exact duplicate groups by content hash ──
    "q19_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))),

    // ── dedup: exact-dedup projection (keep min doc_id per text) ──
    "q20_dedup_drop" -> ((s, dir) =>
      Dedup.dropExactDuplicates(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))),

    // ── dedup: token-set Jaccard similar pairs — EXACT via inverted-
    // postings join (shared-token equi-join + intersection counting), never
    // a cartesian: identical results to the brute force whenever the
    // threshold prunes zero-overlap pairs, with shuffle ∝ postings. The
    // prefilter runs slightly below 0.5 so the final rounded-value filter
    // (matching the oracle exactly) decides the boundary cases. ──
    "q21_jaccard_pairs" -> ((s, dir) => {
      val sets = t(s, dir, "documents").select(col("doc_id").as("id"),
        array_distinct(TextOps.tokens(col("text"))).as("sh"))
      Dedup.jaccardPairsFromSets(sets, threshold = 0.499999, sampleMod = 7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    }),

    // ── dedup: MinHash+LSH near-dups (probabilistic → rows-only check) ──
    "q22_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ── dedup: SimHash signatures (custom codegen'd Expression) ──
    "q23_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 16)),

    // ── similarity: exact cosine top-k (brute-force baseline) ──
    "q24_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // ── similarity: LSH-bucketed ANN (scale path → rows-only) ──
    "q25_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), 5, planes = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // ── text: language ID (stopword-ratio heuristic) ──
    "q26_langid" -> ((s, dir) =>
      TextAnalysis.withLangId(t(s, dir, "documents"))
        .select(col("doc_id"),
          col("sw_en").cast("long").as("sw_en"),
          col("sw_fr").cast("long").as("sw_fr"),
          col("sw_de").cast("long").as("sw_de"),
          col("sw_es").cast("long").as("sw_es"),
          col("lang_guess"))),

    // ── text: quality scoring ──
    "q27_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_words").cast("long").as("n_words"),
          col("n_punct").cast("long").as("n_punct"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          col("quality_score"))),

    // ── text: token counting (whitespace + BPE-ish) ──
    "q28_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"))
        .select(col("doc_id"),
          col("ws_tokens").cast("long").as("ws_tokens"),
          col("bpeish_tokens").cast("long").as("bpeish_tokens"))),

    // ── text: normalization fingerprint (md5 of sorted token set) ──
    "q29_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"))
        .select(col("doc_id"), col("fingerprint"))),

    // ── E2: the grep query surface shape over an event log ──
    "q30_grep" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type").isin("error") &&
          col("ts") >= lit("2024-01-02").cast("timestamp") &&
          regexp_extract(col("props"), """"k":\s*(\d+)""", 1).cast("long") > 50)
        .orderBy(col("ts").desc, col("event_id").desc)
        .select(col("event_id"), col("ts"), col("props"))
        .limit(50)),

    // ── E1 shape on driver data: parse→enrich→route→aggregate ──
    "q31_pipeline_events" -> ((s, dir) => {
      import s.implicits._
      val dim = Seq(("click", "ui"), ("view", "ui"), ("purchase", "conversion"),
        ("signup", "conversion"), ("error", "fault")).toDF("event_type", "family")
      t(s, dir, "events")
        .join(broadcast(dim), Seq("event_type"), "inner")
        .groupBy(col("family"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
    }),

    // ── O28 frame spec: running count per key ──
    "q32_running_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(col("event_id"),
        count(lit(1)).over(w).as("cum_n"))
    }),

    // ── the real alco pipeline over generated transcripts (DuckDB-oracled:
    // Verify dumps the same deterministic input to transcripts_input and the
    // oracle SQL replays classify→rollup with the SAME compiled grok
    // regexes; day is a yyyy-MM-dd string on both sides so no engine's
    // session timezone can skew the compare) ──
    "q33_alco_rollup" -> ((s, dir) => {
      val (ok, _) = Parse.splitQuarantine(Parse.stage(Gen.turns(s, 20000L).toDF()))
      Agg.rollupCounts(Route.replaceSemantics(
        Route.stage(Enrich.stage(s)(ok))))
        .select(col("tool"), col("role"),
          date_format(col("window_start"), "yyyy-MM-dd").as("day"), col("n"))
    }),

    // ── alco distinct rollups + quarantine audit ──
    "q34_alco_distincts" -> ((s, dir) => {
      val (ok, _) = Parse.splitQuarantine(Parse.stage(Gen.turns(s, 20000L).toDF()))
      Agg.distinctSets(Route.stage(Enrich.stage(s)(ok)))
        .select(col("sink_key"), col("column"),
          array_join(col("values"), ",").as("vals"))
    }),

    "q35_alco_quarantine" -> ((s, dir) => {
      val (_, bad) = Parse.splitQuarantine(Parse.stage(Gen.turns(s, 20000L).toDF()))
      bad.groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
    }),

    // ── alco grep surface over generated transcripts ──
    "q36_alco_grep" -> ((s, dir) => {
      val parsed = Parse.stage(Gen.turns(s, 20000L).toDF())
      parsed.filter(Grep.matchPredicate(Seq("retry", "latency"), Grep.MatchAny))
        .orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .limit(100)
    }),

    // ── multimodal plumbing: binary payload → stub decode → features ──
    "q37_multimodal" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 3000)).toDF()
        .groupBy(col("kind"), col("ok"))
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("bytes"))),

    // ── embedding near-dup pairs, LSH-bucketed; plane count scales with
    // the corpus (rows-only) ──
    "q38_cos_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupsAuto(t(s, dir, "embeddings"), threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))),

    // ── O23: match-count (alco total_found) ──
    "q39_total_count" -> ((s, dir) =>
      t(s, dir, "events").filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n"))),

    // ── O30: except ──
    "q40_except" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "click").select(col("event_id"))
        .except(e.filter(col("value") > 90.0).select(col("event_id")))
    }),

    // ── similarity: IVF-bucketed ANN (deterministic k-means index; scale
    // path complement to the LSH variant). Registered at nprobe = nlist,
    // where probing every list degenerates to EXACT search — so the full
    // IVF machinery (k-means build, broadcast-centroid assignment, probe
    // join, TopKRows ranking) is driver-oracled against the q24 brute-force
    // SQL (VERDICT r4 #4); the nprobe < nlist recall behavior stays
    // property-tested in OpsSpec ──
    "q42_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), 5,
        nlist = 16, nprobe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // ── O14: full-text NOT (Sphinx MATCH('table -vector -spark')) ──
    "q41_match_not" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(Grep.matchPredicate(Seq("table"), Grep.MatchAll) &&
          !Grep.matchPredicate(Seq("vector", "spark"), Grep.MatchAny))
        .select(col("doc_id"))),

    // ── O14: Sphinx "phrase" match — consecutive TOKENS, not a raw
    // substring ("spark table" ≠ "sparky tables") ──
    "q43_match_phrase" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(Grep.matchPredicate(Seq("spark", "table"), Grep.MatchPhrase))
        .select(col("doc_id"))),

    // ── O14: Sphinx quorum `"spark vector table"/2` — ≥2 of 3 terms ──
    "q44_match_quorum" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(Grep.matchPredicate(Seq("spark", "vector", "table"),
          Grep.MatchQuorum(2)))
        .select(col("doc_id"))),

    // ── O14: Sphinx proximity `"spark table"~3` — both terms within a
    // 4-token span (any order) ──
    "q45_match_proximity" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(Grep.matchPredicate(Seq("spark", "table"),
          Grep.MatchProximity(4)))
        .select(col("doc_id"))),

    // ── dedup: near-dup CLUSTERS — the q21 exact pair set closed into
    // connected components by distributed min-label propagation (the
    // pairs→clusters→keeper step of a production dedup pipeline) ──
    "q46_dedup_clusters" -> ((s, dir) => {
      val sets = t(s, dir, "documents").select(col("doc_id").as("id"),
        array_distinct(TextOps.tokens(col("text"))).as("sh"))
      val pairs = Dedup.jaccardPairsFromSets(sets, threshold = 0.499999, sampleMod = 7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
        .filter(col("j") >= 0.5)
      Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
    }),

    // ── deterministic content-hash sampling (stable 1/20 subset — the
    // reproducible train/eval-split primitive; md5-based so the oracle
    // replays it bit-identically) ──
    "q47_hash_sample" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "events"), "event_id", buckets = 20)
        .select(col("event_id"), col("event_type"))),

    // ── multimodal resize plumbing: stub scaler, dims updated, corrupt
    // rows pass through as null payloads (rows-only; determinism and
    // per-row behavior proven in OpsSpec) ──
    "q48_multimodal_resize" -> ((s, dir) =>
      Multimodal.resize(Multimodal.syntheticMedia(s, 3000), 128, 128)
        .groupBy(col("kind"), col("payload").isNull.as("corrupt"))
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("bytes"))),

    // ── O34 end-to-end: REPLACE last-write-wins against a redelivered
    // duplicate set — the tie-breaking tail of Route.replaceSemantics was
    // spec-only until round 4; this plants same-key later-ts duplicates
    // (deterministically, so DuckDB replays them) and hash-checks the
    // surviving rows against a row_number oracle ──
    "q50_replace_lww" -> ((s, dir) => {
      val base = Gen.turns(s, 20000L).toDF()
      val ok = Parse.splitQuarantine(Parse.classify(base))._1
        .drop(Parse.matchCols: _*)
      // redeliver 1/3 of the free-text rows an hour later with a changed
      // payload; P3-class only so the copy stays in the same pattern class
      val dup = ok.filter(col("pattern_id") === 3 &&
          pmod(col("turn_idx"), lit(3)) === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
        .withColumn("text", concat(col("text"), lit(" redelivered")))
      Route.replaceSemantics(Route.stage(ok.unionByName(dup)))
        .select(col("conv_id"), col("turn_idx"), col("text"),
          unix_timestamp(col("ts")).as("epoch_s"))
    }),

    // ── O22 scale path: HLL++ approximate distinct — the bounded-state
    // companion to q12's exact countDistinct (exact distinct state is
    // unbounded at 10^12 rows; HLL is ~KB per group at any scale).
    // Sketch values are engine-specific → rows-only; the ±rsd contract
    // vs exact is asserted in a spec ──
    "q49_approx_distinct" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("nd_approx"))),

    // ── training-data curation: PII scrub over the planted-PII generator
    // table (the sf* documents are word-salad — zero emails/digits — so the
    // operator needs its own deterministic fixture; same dump-and-oracle
    // contract as q33) ──
    "q51_pii_redact" -> ((s, dir) =>
      TextAnalysis.piiRedact(Gen.piiDocs(s, 5000L))
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          col("redacted"))),

    // ── training-data curation: Gopher-style duplicate-3-gram fraction ──
    "q52_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
          col("dup_gram_frac"))),

    // ── training-data curation: URL domain provenance counts ──
    "q53_url_domains" -> ((s, dir) =>
      TextAnalysis.urlDomainCounts(Gen.piiDocs(s, 5000L))),

    // ── training-data curation: benchmark decontamination (every 50th doc
    // doubles as the "benchmark" set, so overlap is guaranteed and the
    // oracle replays the same rule) ──
    "q54_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Contamination.flagContaminated(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 50 === 0), "text", n = 3, minHits = 1)
    }),

    // ── training-data curation: per-stratum quota sampling ──
    "q55_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "events"), "event_id", "event_type",
        Map("click" -> 500, "view" -> 100, "purchase" -> 1000))
        .select(col("event_id"), col("event_type"))),

    // ── training-data curation: token-budget chunking with overlap ──
    "q56_chunking" -> ((s, dir) =>
      TextOps.chunkByTokens(t(s, dir, "documents"), "doc_id", "text",
        maxTokens = 16, overlap = 4)),

    // ── training-data curation: unigram surprisal (perplexity proxy) ──
    "q57_surprisal" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(t(s, dir, "documents"), "doc_id")),

    // ── training-data curation: line-level boilerplate dedup over the
    // planted multi-line generator table (sf* documents are single-line;
    // same dump-and-oracle contract as q51) ──
    "q58_line_dedup" -> ((s, dir) =>
      Dedup.dropBoilerplateLines(Gen.linedDocs(s, 4000L), "doc_id", "text",
        minDocFreq = 10)),

    // ── training-data curation: temperature-based domain rebalancing
    // (alpha=0.5 upweights rare event types; rates computed from the
    // corpus, membership by the q47 md5-bucket rule) ──
    "q59_temperature_sample" -> ((s, dir) =>
      Sampling.temperatureResample(t(s, dir, "events"), "event_id",
        "event_type", alpha = 0.5, targetTotal = 2000L)
        .select(col("event_id"), col("event_type"))),

    // ── training-data curation: SemDeDup — semantic dedup inside k-means
    // clusters (rows-only: no k-means in the oracle; cluster-bounded ⊆
    // exact + nlist=1 ≡ exact proven in OpsSpec) ──
    "q60_semdedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), tau = 0.2, nlist = 16)
        .select(col("vec_id"))),

    // ── training-data curation: the composed funnel (quality → lang →
    // exact dedup → hash sample) over a doubled input so the dedup stage
    // provably removes rows; every stage replicated in the SQL oracle ──
    "q61_curate" -> ((s, dir) =>
      Curate.curate(doubledDocs(s, dir), cfg = Curate.Config(
        minQuality = 0.6, langs = Seq("en"), samplePermille = 700))
        .select(col("doc_id"), col("lang_guess"), col("quality_score"))),

    // ── the same chain's audit funnel: per-stage surviving row counts ──
    "q62_curate_funnel" -> ((s, dir) =>
      Curate.funnel(doubledDocs(s, dir), cfg = Curate.Config(
        minQuality = 0.6, langs = Seq("en"), samplePermille = 700))),

    // ── training-data curation: sequence packing (concat-and-fill group
    // assignment — per-shard cumulative token offsets → pack ids) ──
    "q63_pack" -> ((s, dir) =>
      TextOps.packSequences(t(s, dir, "documents"), "doc_id", "text",
        tokensPerPack = 64, nShards = 8)
        .select(col("doc_id"), col("shard"), col("pack"), col("n_tokens"))),

    // ── corpus reporting: per-source data-card profile ──
    "q64_profile" -> ((s, dir) =>
      Stats.corpusProfile(t(s, dir, "documents"))),

    // ── corpus reporting: token-length histogram (fixed bins, clamped) ──
    "q65_histogram" -> ((s, dir) =>
      Stats.tokenLengthHistogram(t(s, dir, "documents"), binWidth = 10,
        maxBins = 20)),

    // ── training-data curation: incremental cross-snapshot dedup — the
    // steady-state ingest shape (dedup a new batch against the existing
    // corpus via its 16-byte hash sidecar; corpus text never moves) ──
    "q66_dedup_incremental" -> ((s, dir) =>
      Dedup.dropSeenExact(incrementalBatch(s, dir), t(s, dir, "documents"),
        "doc_id", "text").select(col("doc_id"))),

    // ── the near-dup variant: batch rows minhash-banding into a reference
    // bucket with verified Jaccard ≥ t are dropped (rows-only — LSH; the
    // planted recall/survival properties live in OpsSpec) ──
    "q67_neardup_incremental" -> ((s, dir) =>
      Dedup.dropSeenNearDup(incrementalBatch(s, dir), t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.6).select(col("doc_id"))),

    // ── conversation curation: render whole conversations into ordered
    // training documents ("role: text" lines). maxTurns caps the planted
    // hot conversation (30% of all turns) BEFORE the one shuffle ──
    "q68_assemble" -> ((s, dir) =>
      Conversations.assemble(Gen.turns(s, 20000L).toDF(), maxTurns = 50)),

    // ── time-gap sessionization over the events activity stream (8 h
    // gap); integral-microsecond arithmetic so the oracle replays the
    // boundary comparison bit-exactly ──
    "q69_sessionize" -> ((s, dir) =>
      Conversations.sessionize(t(s, dir, "events"), "user_id", "ts",
        Seq("ts", "event_id"), gapSec = 28800L)
        .select(col("event_id"), col("user_id"), col("session_idx"))),

    // ── per-conversation composition data card (the SFT curation filter
    // signal: role mix, size, time span) ──
    "q70_conv_stats" -> ((s, dir) =>
      Conversations.stats(Gen.turns(s, 20000L).toDF())),

    // ── exact corpus heavy hitters with deterministic tie-break ──
    "q71_top_terms" -> ((s, dir) =>
      Stats.topTerms(t(s, dir, "documents"), k = 25)),

    // ── data-card shape metric: per-source token-length quantiles
    // (exact linear-interp percentile; percentile_approx is the
    // documented huge-group swap-in) ──
    "q72_token_quantiles" -> ((s, dir) =>
      Stats.tokenQuantiles(t(s, dir, "documents"))),

    // ── SFT pair mining over transcripts: user turn → immediately
    // following assistant turn ──
    "q73_sft_pairs" -> ((s, dir) =>
      Conversations.sftPairs(Gen.turns(s, 20000L).toDF())),

    // ── maintenance surface end-to-end (VERDICT r4 #6): ingest 4
    // fragmenting batches (tiny maxRecordsPerFile + repeated COW merges
    // leave every partition with many small files), compact, then
    // RE-INGEST a redelivered slice on top of the compacted snapshot —
    // the CAS commit chain and REPLACE semantics must keep working across
    // a compaction. The file-count drop is asserted in-query (the oracle
    // can only see rows); the row set must equal the classify-ok input
    // exactly — compaction and the redelivery must neither lose nor
    // duplicate a single row. ──
    "q74_compact_cycle" -> ((s, dir) => {
      val root = fixtureRoot("q74")
      val turns = Gen.turns(s, 20000L).toDF()
      val cfg = Pipeline.Config(maxRecordsPerFile = 100L)
      (0 until 4).foreach { b =>
        Pipeline.run(s, turns.filter(pmod(col("turn_idx"), lit(4)) === b),
          root, cfg, batchId = b.toLong)
      }
      val r = Compact.compact(s, root, minFiles = 2)
      if (r.compactedPartitions.isEmpty || r.filesAfter >= r.filesBefore)
        throw new IllegalStateException(
          s"compaction did not reduce the committed file count: $r")
      Pipeline.run(s, turns.filter(pmod(col("turn_idx"), lit(4)) === 0),
        root, cfg, batchId = 4L)
      Manifest.readCommitted(s, s"$root/routed").get
        .select(col("conv_id"), col("turn_idx"), col("tool"), col("role"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("text"),
          unix_timestamp(col("ts")).as("epoch_s"))
    }),

    // ── E2 end-to-end (VERDICT r4 #7): ONE fused grep plan composing
    // attribute filters + full-text match + a ts range that prunes day
    // partitions + offset pagination, over a pipeline-built routed table.
    // The exact total order — including the seq tiebreak, whose xxhash64
    // has no DuckDB form — is replayed by the oracle via the dumped
    // per-conversation seq_base sidecar. Plan shape (TakeOrderedAndProject
    // + partition pruning) is pinned in PlanSpec. ──
    "q75_grep_fused" -> ((s, dir) => {
      val root = fixtureRoot("q75")
      Pipeline.run(s, Gen.turns(s, 20000L).toDF(), root, batchId = 0L)
      val q = Grep.Query(
        terms = Seq("retry", "latency"), mode = Grep.MatchAny,
        filters = Map("role" -> Seq("user", "assistant")),
        tsFrom = Some(java.sql.Timestamp.from(
          java.time.Instant.parse("2025-01-02T00:00:00Z"))),
        tsTo = Some(java.sql.Timestamp.from(
          java.time.Instant.parse("2025-01-04T12:00:00Z"))),
        limit = 50, offset = 100)
      Grep.query(s, s"$root/routed", q)
        .select(col("conv_id"), col("turn_idx"), col("text"),
          unix_timestamp(col("ts")).as("epoch_s"))
    }),

    // ── ANN-LSH degenerate-parameter bridge (the q42 pattern): with ONE
    // hyperplane the multi-probe list {bucket, bucket^1} covers BOTH
    // possible buckets, so lshTopK provably scans the whole corpus and
    // must reproduce exact top-k bit-for-bit — a hash oracle for the
    // bucketing/probe-join/TopKRows machinery that planes=8 (q25, the
    // real scale shape) cannot have. OpsSpec pins the same equivalence. ──
    "q76_ann_lsh_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), 5, planes = 1)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // ── SemDeDup degenerate-parameter bridge: nlist=1 puts every row in
    // one cluster, so the pair stage provably equals exact all-pairs
    // cosine (OpsSpec pins the equivalence) and DuckDB's
    // list_cosine_similarity can oracle it. ids-only output: pair
    // MEMBERSHIP at tau=0.2 has a >=5e-7 threshold margin on this data
    // (measured at sf0.01 and sf0.1), so double summation-order
    // differences between engines cannot flip a pair, whereas raw cos
    // VALUES could straddle a 6-decimal rounding boundary. The
    // single-cluster pair join is the documented degeneracy, not the
    // scale shape — q60 runs the real cluster-bounded nlist. ──
    "q77_semdedup_exact" -> ((s, dir) =>
      Similarity.semDedupPairs(t(s, dir, "embeddings"), tau = 0.2, nlist = 1)
        .select(col("id_a"), col("id_b"))),

    // ── MinHash structural-recall bridge: a planted corpus where every
    // text is a pure function of its group (doc_id % 97) — within-group
    // shingle sets are IDENTICAL (equal signatures ⇒ every band collides
    // ⇒ candidate recall is exactly 1, no probability involved) and
    // cross-group sets are DISJOINT (a banding false positive dies at the
    // exact-Jaccard verify). The emitted pair set is therefore fully
    // deterministic and SQL-expressible even though the signature hash
    // mixing is not; jaccard is exactly 1.0 (integer set ratio), safe to
    // emit. q22 stays the probabilistic real-data shape. ──
    "q78_minhash_planted" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(11)),
          j => concat(lit("g"), (col("doc_id") % 97).cast("string"),
            lit("w"), j.cast("string")))).as("text"))
      Dedup.minhashNearDups(planted, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // ── cosine near-dup degenerate-parameter bridge: planes=0 puts the
    // whole corpus in ONE sign-LSH bucket (and 500 rows < maxBucket, so no
    // sub-chunking), making the bucketed pair machinery provably exact —
    // a hash oracle for the bucket/size/chunk-join plumbing that q38's
    // real planesForCount shape cannot have. ids-only for the same
    // rounding-straddle reason as q77 (membership margin >= 5e-7 here). ──
    "q79_cos_neardup_exact" -> ((s, dir) =>
      Similarity.cosineNearDups(t(s, dir, "embeddings"), threshold = 0.2,
        planes = 0).select(col("id_a"), col("id_b"))),

    // ── incremental near-dup planted bridge (q78's construction applied to
    // q67's cross-snapshot machinery): reference texts are a pure function
    // g(doc_id % 97); batch rows carry g(group) for EVEN groups (identical
    // shingle sets vs the reference ⇒ jaccard 1 ⇒ dropped) and a
    // token-disjoint h(group) for ODD groups (jaccard 0 ⇒ kept; any band
    // collision dies at the exact-Jaccard verify). The survivor set is
    // therefore fully deterministic: batch ids with odd group. ──
    "q80_neardup_incremental_planted" -> ((s, dir) => {
      def planted(prefixCol: Column): Column =
        concat_ws(" ", transform(sequence(lit(0), lit(11)),
          j => concat(prefixCol, (col("doc_id") % 97).cast("string"),
            lit("w"), j.cast("string"))))
      val ref = t(s, dir, "documents")
        .select(col("doc_id"), planted(lit("g")).as("text"))
      val batch = t(s, dir, "documents")
        .select((col("doc_id") + 1000000L).as("doc_id"),
          when(col("doc_id") % 97 % 2 === 0, planted(lit("g")))
            .otherwise(planted(lit("h"))).as("text"))
      Dedup.dropSeenNearDup(batch, ref, "doc_id", "text", threshold = 0.6)
        .select(col("doc_id"))
    }),

    // ── O14 term-index prune (the Sphinx inverted-index remnant, SURVEY §2
    // O14 stretch): build the per-file token-bloom sidecar over a
    // pipeline-built routed table, then run a grep whose MATCH probes it.
    // The rare number tokens occur in a handful of the ~90 partition
    // files, so the in-query guard asserts the index actually pruned;
    // correctness is the same routed-visible row set the oracle replays —
    // pruning may never change the answer, only the scanned file list
    // (GrepSpec pins the equivalence across every match mode). ──
    "q81_grep_term_index" -> ((s, dir) => {
      val root = fixtureRoot("q81")
      Pipeline.run(s, Gen.turns(s, 20000L).toDF(), root, batchId = 0L)
      TermIndex.build(s, root, numBits = 1 << 16)
      val terms = Seq("421", "137")
      val pr = TermIndex.pruneFiles(s, s"$root/routed", terms, 1).get
      if (pr.keep.size >= pr.total)
        throw new IllegalStateException(
          s"term index failed to prune: kept ${pr.keep.size} of ${pr.total}")
      Grep.query(s, s"$root/routed",
          Grep.Query(terms = terms, mode = Grep.MatchAny, limit = 1000))
        .select(col("conv_id"), col("turn_idx"), col("text"),
          unix_timestamp(col("ts")).as("epoch_s"))
    }),

    // ── multimodal decode bridge: the stub decoder is DETERMINISTIC
    // (FNV-1a over the payload bytes, slot j of a 16-dim vector touched by
    // exactly byte j of the 16-byte md5 payload), so each feature value is
    // (signedFnvPrefix(j) % 1000)/1000f — an integer/1000, recovered
    // exactly by round(f*1000). The oracle replays the byte-level FNV in a
    // recursive CTE over the same md5 payloads, turning the q37 rows-only
    // check into a per-row hash equality on the full decode plumbing
    // (mapPartitions batch shape, corrupt-row quarantine, slot indexing).
    // q37 stays the aggregate real-shape query. ──
    "q82_media_features_bridge" -> ((s, dir) => {
      val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 500))
      feats.toDF()
        .select(col("media_id"), col("kind"), col("ok"), col("n_bytes"),
          posexplode_outer(col("features")))
        // corrupt rows surface once with sentinel idx/q (NULLs would make
        // the driver's sorted-tuple hash compare type-unstable)
        .select(col("media_id"), col("kind"), col("ok"), col("n_bytes"),
          coalesce(col("pos"), lit(-1)).as("idx"),
          coalesce(round(col("col").cast("double") * 1000).cast("int"),
            lit(0)).as("q"))
    }),

    // ── multimodal resize bridge: resizeStub output at 128×64 is
    // max(1, 128*64/256) = 32 bytes = out(i)=payload(i%16) — the 16-byte
    // md5 payload repeated twice, null for the corrupt (id%17=0) rows.
    // SQL-expressible verbatim, so the oracle hash-checks the one-pass
    // all-columns mapPartitions rewrite (dims updated in place, corrupt
    // passthrough, column order preserved) that PlanSpec only shape-checks.
    // q48 stays the aggregate real-shape query. ──
    "q83_media_resize_bridge" -> ((s, dir) =>
      Multimodal.resize(Multimodal.syntheticMedia(s, 500), 128, 64)
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("duration_ms"), hex(col("payload")).as("payload_hex"))),

    // ── epoch-weighted mixture resampling (the UPsampling half of the
    // data-mix recipe — 2.3 epochs of one source, half an epoch of
    // another): floor(e) deterministic copies per row + one more iff the
    // md5 micro-bucket falls under frac(e). Pure generator projection,
    // corpus never shuffles; the oracle replays copies via range(). ──
    "q84_mixture_resample" -> ((s, dir) =>
      Sampling.mixtureResample(t(s, dir, "documents"), "doc_id", "source",
        Map("src1" -> 2.3, "src2" -> 0.5, "src3" -> 1.0),
        defaultEpochs = 0.25)
        .select(col("doc_id"), col("source"), col("copy"))),

    // ── O31/O33 under the driver gate: the Structured-Streaming rollup
    // driven to completion (AvailableNow over a 12-file input =>
    // several micro-batches through the watermark agg + the versioned
    // COW upsert sink), then the FINAL committed rollup version is the
    // result. horizon=365d makes the watermark un-droppable for this
    // input, so the stream must equal the batch rollup EXACTLY — the
    // update-mode incremental counts, checkpoint commits, version
    // publish/vacuum and null-safe upsert join all sit on the hash
    // path (previously StreamingSpec-only). Same input rows as q33, so
    // the oracle is q33's SQL over the dumped transcripts table. ──
    "q85_stream_rollup" -> ((s, dir) => {
      val root = fixtureRoot("q85")
      Gen.turns(s, 20000L).toDF().repartition(12)
        .write.parquet(s"$root/in")
      graft.streaming.StreamPipeline.rollupQuery(s, s"$root/in",
        s"$root/rollup", s"$root/ckpt", horizon = "365 days")
        .awaitTermination()
      graft.streaming.StreamPipeline.readRollup(s, s"$root/rollup").get
        .select(col("tool"), col("role"),
          date_format(col("window_start"), "yyyy-MM-dd").as("day"), col("n"))
    }),

    // ── O1/O4/O31/O35 under the driver gate: the streaming fan-out route
    // driven to completion — foreachBatch replays the FULL batch pipeline
    // per micro-batch (12 input files / maxFilesPerTrigger=4 ⇒ 3 batches
    // through classify → REPLACE dedup → enrich → partitioned write →
    // manifest CAS commit), so multi-batch ingest, cross-batch manifest
    // chaining and the exactly-once writerId path all sit on the hash
    // gate. The committed routed table must equal the classify-ok input
    // EXACTLY (q74's oracle): micro-batching must neither lose, duplicate,
    // nor re-key a single row. ──
    "q86_stream_route" -> ((s, dir) => {
      val root = fixtureRoot("q86")
      Gen.turns(s, 20000L).toDF().repartition(12)
        .write.parquet(s"$root/in")
      graft.streaming.StreamPipeline.routeQuery(s, s"$root/in", root,
        s"$root/ckpt").awaitTermination()
      Manifest.readCommitted(s, s"$root/routed").get
        .select(col("conv_id"), col("turn_idx"), col("tool"), col("role"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("text"),
          unix_timestamp(col("ts")).as("epoch_s"))
    })
  )

  /** Fresh fixed temp root for the queries that materialize a routed table
    * (q74/q75): deleted up front so reruns are idempotent; left on disk
    * afterwards because the returned DataFrame reads it lazily.
    */
  private def fixtureRoot(tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_fixture_$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  /** Synthetic "next ingest batch" for q66/q67: a third of the corpus
    * re-arrives verbatim under fresh ids (must be dropped), another third
    * arrives with its word order reversed — new exact content (q66 keeps
    * it) that is also NOT a 3-shingle near-dup of the original (q67 keeps
    * most of it). Mirrored verbatim in the q66 oracle SQL.
    */
  private def incrementalBatch(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .unionByName(
        d.filter(col("doc_id") % 3 === 1)
          .withColumn("doc_id", col("doc_id") + lit(2000000L))
          .withColumn("text", concat_ws(" ", reverse(split(col("text"), " ")))))
  }

  /** documents ∪ (documents with ids shifted by 1e6): every text occurs
    * exactly twice under distinct ids, so the q61/q62 dedup stage does real
    * work at any sf (the sf tables themselves are duplicate-free).
    */
  private def doubledDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.unionByName(d.withColumn("doc_id", col("doc_id") + lit(1000000L)))
  }

  // ── DuckDB oracle fragments for the generator-based flagship queries
  // (q33-q36). `__GRAFT_OUT__` is substituted by Verify with the absolute
  // outDir, where Verify dumps the SAME deterministic transcripts table the
  // Spark queries generate. The grok regexes are interpolated from the ONE
  // compiled pattern library (Parse.P1/P2), so the oracle can never drift
  // from the engine's grammar. RE2 on both sides; regexp_matches +
  // anchored ^…$ ≡ rlike full match.
  private def trTable =
    "read_parquet('__GRAFT_OUT__/transcripts_input/*.parquet')"
  private def piiTable =
    "read_parquet('__GRAFT_OUT__/pii_docs_input/*.parquet')"
  private def linedTable =
    "read_parquet('__GRAFT_OUT__/lined_docs_input/*.parquet')"
  // exact cosine top-5 for queries vec_id < 5 — the oracle for BOTH the
  // brute-force baseline (q24) and the full-probe IVF degenerate (q42)
  private def bruteTopkSql =
    "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5), s AS (SELECT q.query_id, c.vec_id AS neighbor_id, list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos FROM embeddings c, q WHERE c.vec_id <> q.query_id) SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s) t WHERE rank <= 5"
  // UTC day as a string via epoch arithmetic — make_timestamp(micros) is
  // timezone-naive in DuckDB, so the result is immune to how the reader
  // types Spark's parquet timestamps (TIMESTAMP vs TIMESTAMPTZ).
  private def duckDay(ts: String) =
    s"strftime(make_timestamp(CAST(floor(epoch($ts)) AS BIGINT) * 1000000), '%Y-%m-%d')"
  // Parse.classify precedence: routing metadata must be present (null/empty
  // role or null ts quarantines — ADVICE r3), then P1, else P2, else P3 for
  // non-structured non-empty SINGLE-LINE text; anything else quarantines.
  // The single-line term mirrors classify's explicit `contains \n` rule
  // exactly (regex `$` semantics differ between Java and RE2, so neither
  // side uses one).
  private def duckOk =
    "(role IS NOT NULL AND role <> '' AND ts IS NOT NULL AND " +
      s"(regexp_matches(text, '${Parse.P1.regex}') OR regexp_matches(text, '${Parse.P2.regex}') OR " +
      "(NOT (starts_with(text, 'CALL') OR starts_with(text, 'RESULT')) AND length(text) > 0 AND NOT contains(text, chr(10)))))"

  /** DuckDB oracles: bare table names resolve against the same sfDir;
    * `__GRAFT_OUT__` paths resolve against Verify's dump dir. Omitted keys
    * (q22/q25/q37/q38/q48/q49/q60/q67) are probabilistic/custom-hash/
    * k-means ops with no SQL equivalent → driver records rows-only checks
    * (their exactness is covered by OpsSpec recall/pigeonhole/subset
    * proofs instead). q23 oracles its banding+verify stage over a dumped
    * signature sidecar; q42 runs at nprobe=nlist where IVF is exact and
    * shares q24's brute-force oracle. q76/q77/q78/q79/q80 are the
    * degenerate-parameter / planted-fixture bridges that give the
    * q25/q60/q22/q38/q67 machinery hash oracles on provably-exact
    * configurations.
    */
  def oracleSql: Map[String, String] = Map(
    "q33_alco_rollup" ->
      s"""WITH ok AS (SELECT tool, role, ts FROM $trTable WHERE $duckOk) SELECT tool, role, ${duckDay("ts")} AS day, count(*) AS n FROM ok GROUP BY 1, 2, 3""",
    "q34_alco_distincts" ->
      s"""WITH ok AS (SELECT tool, role, CASE WHEN regexp_matches(text, '${Parse.P1.regex}') THEN regexp_extract(text, '${Parse.P1.regex}', ${Parse.P1.groupOf("called_tool")}) END AS called_tool, CASE WHEN regexp_matches(text, '${Parse.P2.regex}') THEN regexp_extract(text, '${Parse.P2.regex}', ${Parse.P2.groupOf("status")}) END AS status FROM $trTable WHERE $duckOk), kv AS (SELECT concat(tool, '/', role) AS sink_key, 'role' AS "column", role AS value FROM ok UNION ALL SELECT concat(tool, '/', role), 'called_tool', called_tool FROM ok WHERE called_tool IS NOT NULL UNION ALL SELECT concat(tool, '/', role), 'status', status FROM ok WHERE status IS NOT NULL) SELECT sink_key, "column", array_to_string(list_sort(list(DISTINCT value)), ',') AS vals FROM kv GROUP BY 1, 2""",
    "q35_alco_quarantine" ->
      s"""SELECT ${duckDay("ts")} AS day, count(*) AS n FROM $trTable WHERE NOT $duckOk GROUP BY 1""",
    "q36_alco_grep" ->
      s"""SELECT conv_id, turn_idx, text FROM $trTable WHERE regexp_matches(lower(text), '\\b(retry|latency)\\b') ORDER BY epoch(ts) DESC, conv_id, turn_idx LIMIT 100""",
    "q01_rollup_counts" ->
      "SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2",
    "q02_json_parse" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k FROM events""",
    "q03_ts_extract" ->
      "SELECT event_id, CAST(ts AS DATE) AS day, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, CAST(hour(ts) AS INT) AS hh FROM events",
    "q04_filter_in" ->
      "SELECT event_id, event_type, value FROM events WHERE event_type IN ('click','error') AND value > 50.0",
    "q05_match_any" ->
      """SELECT doc_id FROM documents WHERE regexp_matches(lower(text), '\b(spark|vector)\b')""",
    "q06_match_all" ->
      """SELECT doc_id FROM documents WHERE regexp_matches(lower(text), '\btable\b') AND regexp_matches(lower(text), '\bquery\b')""",
    "q07_enrich_bcast" ->
      "SELECT n_name, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
    "q08_join_large" ->
      "SELECT o_orderpriority, count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1",
    "q09_anti_join" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "q10_semi_join" ->
      "SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "q11_distinct_sets" ->
      "SELECT event_type, array_to_string(list_sort(list(DISTINCT CAST(user_id AS VARCHAR))), ',') AS users FROM events GROUP BY 1",
    "q12_count_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS nd FROM events GROUP BY 1",
    "q13_topk" ->
      "SELECT event_id, user_id, value FROM events ORDER BY ts DESC, event_id LIMIT 100",
    "q14_pagination" ->
      "SELECT event_id, CAST(rn AS INT) AS rn FROM (SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn FROM events) t WHERE rn BETWEEN 201 AND 300",
    "q15_context_window" ->
      "SELECT event_id, lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events",
    "q16_union" ->
      "SELECT event_id FROM events WHERE event_type = 'click' UNION SELECT event_id FROM events WHERE value > 90.0",
    "q17_dedup_replace" ->
      "SELECT user_id, event_type, event_id FROM (SELECT user_id, event_type, event_id, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn FROM events) t WHERE rn = 1",
    "q18_rollup_all" ->
      "SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n FROM events GROUP BY ROLLUP(event_type)",
    "q19_dedup_exact" ->
      "SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper FROM documents GROUP BY 1",
    "q20_dedup_drop" ->
      "SELECT source, count(*) AS n FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text)) GROUP BY 1",
    // q23 over the dumped signature sidecar (simhash_sigs_input — the
    // 64-bit FNV-vote signature has no SQL form, but everything downstream
    // of it does): 4×16-bit band extraction, same-chunk candidate join,
    // hamming verify via bit_count(xor). (sig >> n) & 65535 ≡ Spark's
    // shiftrightunsigned+mask — the mask discards DuckDB's sign extension.
    "q23_simhash" ->
      """WITH s AS (SELECT id, sig FROM read_parquet('__GRAFT_OUT__/simhash_sigs_input/*.parquet')), b AS (SELECT id, sig, band, (sig >> (band * 16)) & 65535 AS chunk FROM s CROSS JOIN (VALUES (0),(1),(2),(3)) AS t(band)) SELECT DISTINCT a.id AS id_a, b2.id AS id_b, CAST(bit_count(xor(a.sig, b2.sig)) AS INT) AS hamming FROM b a JOIN b b2 ON a.band = b2.band AND a.chunk = b2.chunk AND a.id < b2.id WHERE bit_count(xor(a.sig, b2.sig)) <= 16""",
    "q21_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '\w+')) AS toks FROM documents) SELECT a.doc_id AS id_a, b.doc_id AS id_b, round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0.0 ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(list_concat(a.toks, b.toks))) END, 6) AS jaccard FROM t a, t b WHERE a.doc_id % 7 = 0 AND a.doc_id < b.doc_id AND round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0.0 ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(list_concat(a.toks, b.toks))) END, 6) >= 0.5""",
    "q24_ann_brute" -> bruteTopkSql,
    // q42 probes EVERY inverted list (nprobe = nlist), so IVF degenerates
    // to exact search and the brute-force SQL is its oracle too — the
    // k-means build + broadcast-centroid assignment + probe join must
    // reproduce exact top-k bit-for-bit to pass
    "q42_ann_ivf" -> bruteTopkSql,
    // q76 probes both buckets of a 1-plane LSH index — exhaustive scan, so
    // the brute-force SQL is its oracle too (see the query's scaladoc)
    "q76_ann_lsh_exhaustive" -> bruteTopkSql,
    // q77: nlist=1 SemDeDup pairs ≡ exact all-pairs cosine; ids-only (the
    // tau=0.2 membership margin is >=5e-7 on this data, rounding-proof)
    "q77_semdedup_exact" ->
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a, e b WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.v, b.v) >= 0.2",
    // q78: the planted corpus makes text a pure function of doc_id % 97,
    // so near-dup pairs = within-group pairs with jaccard exactly 1.0
    "q78_minhash_planted" ->
      "WITH p AS (SELECT doc_id FROM documents) SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jaccard FROM p a JOIN p b ON a.doc_id % 97 = b.doc_id % 97 AND a.doc_id < b.doc_id",
    // q79: planes=0 cosineNearDups ≡ exact all-pairs cosine (one bucket,
    // no sub-chunk at this size) — same exact-pairs SQL as q77
    "q79_cos_neardup_exact" ->
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a, e b WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.v, b.v) >= 0.2",
    // q80: planted incremental near-dup — survivors are exactly the batch
    // rows whose group is odd (see the query's scaladoc)
    "q80_neardup_incremental_planted" ->
      "SELECT doc_id + 1000000 AS doc_id FROM documents WHERE (doc_id % 97) % 2 = 1",
    // q81: bloom pruning may only change the files scanned, never the rows —
    // the oracle is the plain routed-visible MATCH-ANY row set (far below
    // the query's 1000 limit, so ordering/pagination don't bind)
    "q81_grep_term_index" ->
      s"""SELECT conv_id, turn_idx, text, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM $trTable WHERE $duckOk AND regexp_matches(lower(text), '\\b(421|137)\\b')""",
    // q82: byte-level FNV-1a replay of the deterministic decode stub — the
    // recursive CTE walks the 16 md5 payload bytes (hex-pair -> value via
    // strpos), keeps the running 64-bit hash in HUGEINT with explicit
    // mod-2^64 wraparound, reinterprets as signed two's-complement, and
    // emits slot j's quantized value (signed h_j % 1000). Corrupt rows
    // (id%17=0 -> NULL payload) surface as ok=false with NULL idx/q,
    // mirroring posexplode_outer on the empty feature array.
    "q82_media_features_bridge" ->
      ("WITH m AS (SELECT id AS media_id, (['image','audio','video'])[CAST(id % 3 AS INT) + 1] AS kind, " +
        "CASE WHEN id % 17 = 0 THEN NULL ELSE md5(CAST(id AS VARCHAR)) END AS ph FROM range(500) t(id)), " +
        "rec AS (WITH RECURSIVE r(media_id, i, h) AS (" +
        "SELECT media_id, 0, CAST('14695981039346656037' AS HUGEINT) FROM m WHERE ph IS NOT NULL " +
        "UNION ALL SELECT r.media_id, r.i + 1, " +
        "(xor(r.h, CAST((strpos('0123456789abcdef', substr(m.ph, 2*r.i+1, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substr(m.ph, 2*r.i+2, 1)) - 1) AS HUGEINT)) * 1099511628211) " +
        "% CAST('18446744073709551616' AS HUGEINT) " +
        "FROM r JOIN m USING (media_id) WHERE r.i < 16) " +
        "SELECT media_id, i - 1 AS idx, CAST((CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT) " +
        "THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END) % 1000 AS INT) AS q FROM r WHERE i > 0) " +
        "SELECT m.media_id, m.kind, TRUE AS ok, 16 AS n_bytes, rec.idx, rec.q FROM m JOIN rec USING (media_id) " +
        "UNION ALL SELECT media_id, kind, FALSE AS ok, 0 AS n_bytes, -1 AS idx, 0 AS q FROM m WHERE ph IS NULL"),
    // q83: resizeStub at 128x64 emits 32 bytes = the 16-byte md5 payload
    // repeated twice (out(i)=payload(i%16)); corrupt rows pass through with
    // NULL payload and updated dims. Spark hex() is uppercase.
    "q83_media_resize_bridge" ->
      ("SELECT id AS media_id, (['image','audio','video'])[CAST(id % 3 AS INT) + 1] AS kind, " +
        "128 AS width, 64 AS height, id * 40 AS duration_ms, " +
        "CASE WHEN id % 17 = 0 THEN NULL ELSE upper(md5(CAST(id AS VARCHAR)) || md5(CAST(id AS VARCHAR))) END AS payload_hex " +
        "FROM range(500) t(id)"),
    // q85: the driven-to-completion stream with an un-droppable watermark
    // must reproduce the batch rollup exactly — q33's counts WITHOUT the
    // REPLACE dedup (rollupQuery aggregates classify-ok rows directly, and
    // the generated input has no (conv_id, turn_idx) duplicates anyway)
    "q85_stream_rollup" ->
      s"""WITH ok AS (SELECT tool, role, ts FROM $trTable WHERE $duckOk) SELECT tool, role, ${duckDay("ts")} AS day, count(*) AS n FROM ok GROUP BY 1, 2, 3""",
    // q84: per-domain micro-weights (epochs × 1e6) mirror the Scala map;
    // copies = whole epochs + (md5 micro-bucket < fractional part)
    "q84_mixture_resample" ->
      ("WITH w AS (SELECT doc_id, source, CASE source WHEN 'src1' THEN 2300000 WHEN 'src2' THEN 500000 WHEN 'src3' THEN 1000000 ELSE 250000 END AS micro, " +
        "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS b FROM documents) " +
        "SELECT doc_id, source, unnest(range(micro // 1000000 + CASE WHEN b < micro % 1000000 THEN 1 ELSE 0 END)) AS copy FROM w"),
    "q26_langid" ->
      """WITH c AS (SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it|for|was)\b')) AS BIGINT) AS sw_en, CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|de|un|une|que|pour)\b')) AS BIGINT) AS sw_fr, CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|ein|eine|zu|mit)\b')) AS BIGINT) AS sw_de, CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|de|un|una|que|por)\b')) AS BIGINT) AS sw_es FROM documents) SELECT doc_id, sw_en, sw_fr, sw_de, sw_es, CASE WHEN greatest(sw_en, sw_fr, sw_de, sw_es) = 0 THEN 'und' WHEN sw_en = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'en' WHEN sw_fr = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'fr' WHEN sw_de = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'de' WHEN sw_es = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'es' ELSE 'und' END AS lang_guess FROM c""",
    "q27_quality" ->
      """WITH c AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens, CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words, CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct, CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it|for|was)\b')) AS BIGINT) AS n_stop, length(text) AS n_chars FROM documents) SELECT doc_id, n_tokens, n_words, n_punct, round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars END, 6) AS punct_ratio, round(CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_words END, 6) AS stop_ratio, round(least(1.0, CAST(n_words AS DOUBLE) / 20.0) * 0.5 + (CASE WHEN n_words = 0 THEN 0.0 ELSE least(1.0, CAST(n_stop AS DOUBLE) / n_words * 5.0) END) * 0.3 + (CASE WHEN n_chars = 0 THEN 0.0 ELSE 1.0 - least(1.0, CAST(n_punct AS DOUBLE) / n_chars * 10.0) END) * 0.2, 6) AS quality_score FROM c""",
    "q28_token_counts" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens FROM documents""",
    "q29_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '\w+'))), ' ')) AS fingerprint FROM documents""",
    "q30_grep" ->
      """SELECT event_id, ts, props FROM events WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-02 00:00:00' AND CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) > 50 ORDER BY ts DESC, event_id DESC LIMIT 50""",
    "q31_pipeline_events" ->
      "SELECT d.family, CAST(e.ts AS DATE) AS day, count(*) AS n, min(e.value) AS mn, max(e.value) AS mx FROM events e JOIN (VALUES ('click','ui'),('view','ui'),('purchase','conversion'),('signup','conversion'),('error','fault')) AS d(event_type, family) ON e.event_type = d.event_type GROUP BY 1, 2",
    "q32_running_window" ->
      "SELECT event_id, CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n FROM events",
    "q39_total_count" ->
      "SELECT count(*) AS n FROM events WHERE event_type = 'click'",
    "q40_except" ->
      "SELECT event_id FROM events WHERE event_type = 'click' EXCEPT SELECT event_id FROM events WHERE value > 90.0",
    "q41_match_not" ->
      """SELECT doc_id FROM documents WHERE regexp_matches(lower(text), '\btable\b') AND NOT regexp_matches(lower(text), '\b(vector|spark)\b')""",
    "q43_match_phrase" ->
      """SELECT doc_id FROM documents WHERE regexp_matches(lower(text), '\bspark\W+table\b')""",
    "q44_match_quorum" ->
      """SELECT doc_id FROM documents WHERE (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END + CASE WHEN regexp_matches(lower(text), '\bvector\b') THEN 1 ELSE 0 END + CASE WHEN regexp_matches(lower(text), '\btable\b') THEN 1 ELSE 0 END) >= 2""",
    "q45_match_proximity" ->
      """SELECT doc_id FROM documents WHERE len(list_filter(range(1, len(regexp_extract_all(lower(text), '\w+'))+1), i -> list_contains(regexp_extract_all(lower(text), '\w+')[i:i+3], 'spark') AND list_contains(regexp_extract_all(lower(text), '\w+')[i:i+3], 'table'))) > 0""",
    // the q21 pair set closed into components via transitive reachability
    // (recursive CTE) — component = min reachable id
    "q46_dedup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '\w+')) AS toks FROM documents), p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM t a, t b WHERE a.doc_id % 7 = 0 AND a.doc_id < b.doc_id AND round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0.0 ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(list_concat(a.toks, b.toks))) END, 6) >= 0.5), edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p), reach(src, dst) AS (SELECT a, b FROM edges UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a) SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src""",
    "q47_hash_sample" ->
      """SELECT event_id, event_type FROM events WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 = 0""",
    // REPLACE last-write-wins replay: same classify gate, the same
    // deterministic redelivery rule (pattern_id=3 ⟺ ok AND not structured,
    // since P1/P2 are ^CALL/^RESULT-anchored), latest ts wins per key.
    "q50_replace_lww" ->
      s"""WITH t AS (SELECT conv_id, turn_idx, text, ts FROM $trTable WHERE $duckOk), d AS (SELECT conv_id, turn_idx, text || ' redelivered' AS text, ts + INTERVAL 1 HOUR AS ts FROM $trTable WHERE $duckOk AND NOT (starts_with(text, 'CALL') OR starts_with(text, 'RESULT')) AND turn_idx % 3 = 0), a AS (SELECT * FROM t UNION ALL SELECT * FROM d) SELECT conv_id, turn_idx, text, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts DESC) AS rn FROM a) x WHERE rn = 1""",
    // identical pattern strings on both sides (TextAnalysis.EmailPat etc. —
    // RE2 ∩ Java dialect); DuckDB regexp_replace needs the explicit 'g' flag
    // to match Spark's replace-all default
    "q51_pii_redact" ->
      s"""SELECT doc_id, len(regexp_extract_all(text, '${TextAnalysis.EmailPat}')) AS n_emails, len(regexp_extract_all(text, '${TextAnalysis.PhonePat}')) AS n_phones, len(regexp_extract_all(text, '${TextAnalysis.Ipv4Pat}')) AS n_ips, regexp_replace(regexp_replace(regexp_replace(text, '${TextAnalysis.EmailPat}', '<EMAIL>', 'g'), '${TextAnalysis.PhonePat}', '<PHONE>', 'g'), '${TextAnalysis.Ipv4Pat}', '<IP>', 'g') AS redacted FROM $piiTable""",
    // 1-indexed DuckDB lists ≡ Spark element_at; the n_grams=0 branch
    // avoids empty-list typing on the DuckDB side
    "q52_repetition" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents) SELECT doc_id, CAST(greatest(len(ws) - 2, 0) AS INT) AS n_grams, CASE WHEN len(ws) < 3 THEN 0 ELSE len(list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2]) for i in range(1, len(ws) - 1)])) END AS n_distinct_grams, CASE WHEN len(ws) < 3 THEN 0.0 ELSE round(1.0 - CAST(len(list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2]) for i in range(1, len(ws) - 1)])) AS DOUBLE) / (len(ws) - 2), 6) END AS dup_gram_frac FROM w""",
    "q53_url_domains" ->
      s"""SELECT domain, count(*) AS n_mentions FROM (SELECT unnest(regexp_extract_all(text, '${TextAnalysis.UrlPat}', 1)) AS domain FROM $piiTable) GROUP BY 1""",
    // distinct corpus 3-grams joined against the benchmark gram set
    // (benchmark = every 50th doc; same split/lower/window rule as q52)
    "q54_decontaminate" ->
      """WITH c AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents), cg AS (SELECT doc_id, unnest(list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2]) for i in range(1, len(ws) - 1)])) AS gram FROM c WHERE len(ws) >= 3), bg AS (SELECT DISTINCT gram FROM cg WHERE doc_id % 50 = 0) SELECT doc_id, count(*) AS n_hits FROM cg JOIN bg USING (gram) GROUP BY 1 HAVING count(*) >= 1""",
    // q47's md5-prefix bucket arithmetic with a per-stratum threshold
    "q55_stratified_sample" ->
      """SELECT event_id, event_type FROM events WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < CASE event_type WHEN 'click' THEN 500 WHEN 'view' THEN 100 WHEN 'purchase' THEN 1000 ELSE 0 END""",
    // DuckDB list slices are 1-based INCLUSIVE; range() is stop-exclusive,
    // so stop = greatest(len-overlap, 1) + 1 mirrors Spark's clamped
    // sequence; chunk_idx = (start-1)/step ≡ posexplode's ordinal
    "q56_chunking" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents WHERE len(trim(text)) > 0), s AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 4, 1) + 1, 12)) AS st FROM w) SELECT doc_id, CAST((st - 1) / 12 AS INT) AS chunk_idx, array_to_string(ws[st : least(st + 15, len(ws))], ' ') AS chunk, CAST(least(st + 15, len(ws)) - st + 1 AS INT) AS n_tokens FROM s""",
    // same tokenization as q26/q29 (\w+ runs, lowercased); ln on both
    // sides; round(,6) absorbs double summation-order noise
    "q57_surprisal" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS tok FROM documents), f AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1), tot AS (SELECT sum(cnt) AS total FROM f) SELECT doc_id, round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 6) AS surprisal FROM t JOIN f USING (tok) CROSS JOIN tot GROUP BY 1""",
    // trim-normalized line keys, doc-frequency >= 10 = boilerplate; kept
    // lines re-joined in position order; string_agg skips the NULL-ed
    // boilerplate lines and coalesce('') matches Spark's array_join on an
    // empty array for fully-boilerplate docs
    "q58_line_dedup" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM $linedTable), e AS (SELECT doc_id, unnest([{'pos': i, 'line': ls[i]} for i in range(1, len(ls) + 1)]) AS pl FROM d), x AS (SELECT doc_id, pl.pos AS pos, pl.line AS line, trim(pl.line) AS k FROM e), f AS (SELECT k FROM x GROUP BY k HAVING count(DISTINCT doc_id) >= 10) SELECT doc_id, count(*) AS n_lines, CAST(coalesce(sum(CASE WHEN k IN (SELECT k FROM f) THEN 1 END), 0) AS BIGINT) AS n_removed, coalesce(string_agg(CASE WHEN k NOT IN (SELECT k FROM f) THEN line END, chr(10) ORDER BY pos), '') AS clean_text FROM x GROUP BY doc_id""",
    // alpha=0.5 so both engines evaluate pow(nd, 0.5); rate rounded to 6dp
    // on both sides before the micro-bucket threshold (absorbs libm ULP),
    // round() ties-away-from-zero on positives in both engines
    "q59_temperature_sample" ->
      """WITH n AS (SELECT event_type, count(*) AS nd FROM events GROUP BY 1), z AS (SELECT sum(pow(nd, 0.5)) AS z FROM n), r AS (SELECT event_type, round(least(1.0, 2000 * pow(nd, 0.5) / z / nd), 6) AS rate FROM n CROSS JOIN z) SELECT event_id, event_type FROM events JOIN r USING (event_type) WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < CAST(round(rate * 1000000) AS BIGINT)"""
 ,
    // composed funnel over the doubled table: quality + langid CTEs are the
    // q26/q27 fragments verbatim (sw_en doubles as the quality n_stop),
    // dedup = min-id per md5(text) among filter survivors, sample = the q47
    // md5 micro-bucket rule
    "q61_curate" ->
      """WITH dd AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 1000000, text FROM documents), c AS (SELECT doc_id, text, CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words, CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct, CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it|for|was)\b')) AS BIGINT) AS sw_en, CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|de|un|une|que|pour)\b')) AS BIGINT) AS sw_fr, CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|ein|eine|zu|mit)\b')) AS BIGINT) AS sw_de, CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|de|un|una|que|por)\b')) AS BIGINT) AS sw_es, length(text) AS n_chars FROM dd), s AS (SELECT doc_id, text, CASE WHEN greatest(sw_en, sw_fr, sw_de, sw_es) = 0 THEN 'und' WHEN sw_en = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'en' WHEN sw_fr = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'fr' WHEN sw_de = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'de' WHEN sw_es = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'es' ELSE 'und' END AS lang_guess, round(least(1.0, CAST(n_words AS DOUBLE) / 20.0) * 0.5 + (CASE WHEN n_words = 0 THEN 0.0 ELSE least(1.0, CAST(sw_en AS DOUBLE) / n_words * 5.0) END) * 0.3 + (CASE WHEN n_chars = 0 THEN 0.0 ELSE 1.0 - least(1.0, CAST(n_punct AS DOUBLE) / n_chars * 10.0) END) * 0.2, 6) AS quality_score FROM c), q1 AS (SELECT * FROM s WHERE quality_score >= 0.6), q2 AS (SELECT * FROM q1 WHERE lang_guess = 'en'), k AS (SELECT min(doc_id) AS doc_id FROM q2 GROUP BY md5(text)), d3 AS (SELECT q2.* FROM q2 JOIN k USING (doc_id)), d4 AS (SELECT * FROM d3 WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 700) SELECT doc_id, lang_guess, quality_score FROM d4""",
    // per-stage surviving row counts of the same chain
    "q62_curate_funnel" ->
      """WITH dd AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 1000000, text FROM documents), c AS (SELECT doc_id, text, CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words, CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct, CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it|for|was)\b')) AS BIGINT) AS sw_en, CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|de|un|une|que|pour)\b')) AS BIGINT) AS sw_fr, CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|ein|eine|zu|mit)\b')) AS BIGINT) AS sw_de, CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|de|un|una|que|por)\b')) AS BIGINT) AS sw_es, length(text) AS n_chars FROM dd), s AS (SELECT doc_id, text, CASE WHEN greatest(sw_en, sw_fr, sw_de, sw_es) = 0 THEN 'und' WHEN sw_en = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'en' WHEN sw_fr = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'fr' WHEN sw_de = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'de' WHEN sw_es = greatest(sw_en, sw_fr, sw_de, sw_es) THEN 'es' ELSE 'und' END AS lang_guess, round(least(1.0, CAST(n_words AS DOUBLE) / 20.0) * 0.5 + (CASE WHEN n_words = 0 THEN 0.0 ELSE least(1.0, CAST(sw_en AS DOUBLE) / n_words * 5.0) END) * 0.3 + (CASE WHEN n_chars = 0 THEN 0.0 ELSE 1.0 - least(1.0, CAST(n_punct AS DOUBLE) / n_chars * 10.0) END) * 0.2, 6) AS quality_score FROM c), q1 AS (SELECT * FROM s WHERE quality_score >= 0.6), q2 AS (SELECT * FROM q1 WHERE lang_guess = 'en'), k AS (SELECT min(doc_id) AS doc_id FROM q2 GROUP BY md5(text)), d3 AS (SELECT q2.* FROM q2 JOIN k USING (doc_id)), d4 AS (SELECT * FROM d3 WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 700) SELECT '0_input' AS stage, count(*) AS "rows" FROM dd UNION ALL SELECT '1_quality', count(*) FROM q1 UNION ALL SELECT '2_lang', count(*) FROM q2 UNION ALL SELECT '3_dedup', count(*) FROM d3 UNION ALL SELECT '4_sample', count(*) FROM d4""",
    // per-shard cumulative-sum window: DuckDB's default ORDER BY frame
    // (unbounded preceding..current row) matches Spark's; ids are unique so
    // RANGE vs ROWS cannot differ; floor((long-long)/64.0) on identical
    // IEEE doubles both sides
    "q63_pack" ->
      """WITH d AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens, CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard FROM documents) SELECT doc_id, shard, CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens) / 64.0) AS BIGINT) AS pack, n_tokens FROM d""",
    // sums cast to BIGINT (DuckDB sum(BIGINT) widens to HUGEINT); mean is
    // one fixed-order double division rounded 6dp on both engines
    "q64_profile" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens, round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_tokens, max(n) AS max_tokens, CAST(sum(c) AS BIGINT) AS total_chars FROM (SELECT source, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n, CAST(length(text) AS BIGINT) AS c FROM documents) t GROUP BY source""",
    "q66_dedup_incremental" ->
      """WITH batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0 UNION ALL SELECT doc_id + 2000000, array_to_string(list_reverse(string_split(text, ' ')), ' ') FROM documents WHERE doc_id % 3 = 1) SELECT doc_id FROM batch WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)""",
    "q65_histogram" ->
      """SELECT bin, CAST(bin * 10 AS BIGINT) AS bin_lo, count(*) AS n_docs FROM (SELECT least(CAST(floor(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) / 10.0) AS BIGINT), CAST(19 AS BIGINT)) AS bin FROM documents) t GROUP BY bin""",
    // q68: string_agg skips nothing here (generator has no null role/text);
    // ORDER BY turn_idx is total because (conv_id, turn_idx) is unique
    "q68_assemble" ->
      s"""SELECT conv_id, count(*) AS n_turns, string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS doc FROM $trTable WHERE turn_idx < 50 GROUP BY conv_id""",
    // q69: integral-microsecond gap arithmetic (epoch_us ≡ Spark
    // unix_micros); ROWS frame stated explicitly (engine defaults differ)
    "q69_sessionize" ->
      """SELECT event_id, user_id, CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 28800000000 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx FROM (SELECT event_id, user_id, ts, epoch_us(ts) AS us, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM events) t""",
    "q70_conv_stats" ->
      s"""SELECT conv_id, count(*) AS n_turns, CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user, CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant, CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool, CAST(sum(length(text)) AS BIGINT) AS n_chars, epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us FROM $trTable GROUP BY conv_id""",
    "q71_top_terms" ->
      """SELECT term, count(*) AS n FROM (SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS term FROM documents) t GROUP BY term ORDER BY n DESC, term LIMIT 25""",
    // q72: quantile_cont ≡ Spark's exact linear-interp percentile on the
    // same BIGINT token counts; rounded 6 dp on both engines
    "q72_token_quantiles" ->
      """SELECT source, round(quantile_cont(n, 0.5), 6) AS p50, round(quantile_cont(n, 0.9), 6) AS p90, round(quantile_cont(n, 0.99), 6) AS p99 FROM (SELECT source, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n FROM documents) t GROUP BY source""",
    "q73_sft_pairs" ->
      s"""SELECT conv_id, turn_idx AS prompt_idx, text AS prompt, next_text AS completion FROM (SELECT conv_id, turn_idx, role, text, lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role, lead(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_text FROM $trTable) t WHERE role = 'user' AND next_role = 'assistant'""",
    // q74: 4 fragmenting batches + compact + a verbatim redelivery must
    // leave EXACTLY the classify-ok input rows (REPLACE keeps one copy of
    // each redelivered key; compaction moves bytes, never rows)
    "q74_compact_cycle" ->
      s"""SELECT conv_id, turn_idx, tool, role, ${duckDay("ts")} AS day, text, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM $trTable WHERE $duckOk""",
    // q86: the streaming fan-out must commit EXACTLY the classify-ok input
    // (q74's invariant, reached through AvailableNow micro-batches instead
    // of explicit batch ids)
    "q86_stream_route" ->
      s"""SELECT conv_id, turn_idx, tool, role, ${duckDay("ts")} AS day, text, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM $trTable WHERE $duckOk""",
    // q75: the fused grep page — same classify gate, q36's token-match
    // regex, the attribute + ts-range filters, and the EXACT order keys
    // (ts DESC, seq DESC, conv_id, turn_idx) with seq rebuilt from the
    // dumped per-conversation seq_base sidecar (seq = seq_base + turn_idx)
    "q75_grep_fused" ->
      s"""WITH sq AS (SELECT conv_id, seq_base FROM read_parquet('__GRAFT_OUT__/conv_seq_input/*.parquet')), m AS (SELECT t.conv_id, t.turn_idx, t.text, t.ts, sq.seq_base + t.turn_idx AS seq FROM $trTable t JOIN sq USING (conv_id) WHERE $duckOk AND regexp_matches(lower(text), '\\b(retry|latency)\\b') AND role IN ('user', 'assistant') AND ts >= TIMESTAMP '2025-01-02 00:00:00' AND ts <= TIMESTAMP '2025-01-04 12:00:00') SELECT conv_id, turn_idx, text, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM m ORDER BY ts DESC, seq DESC, conv_id, turn_idx LIMIT 50 OFFSET 100"""
  )
}
