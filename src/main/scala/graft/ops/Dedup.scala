package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines, each
  * designed so the expensive pairwise work only ever happens inside small
  * candidate buckets — the all-pairs cross join that kills 100 TB runs never
  * appears in any plan here.
  *
  *  - exact:     hash-groupBy (one shuffle on a 16-byte key)
  *  - MinHash:   shingle → k minhashes → b band-buckets → within-bucket
  *    pairs → Jaccard verify (the standard LSH recipe)
  *  - SimHash:   64-bit signature (custom codegen'd Expression) → 4×16-bit
  *    band buckets (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 band equal) → bit_count
  *    verify
  *  - embedding: cosine near-dup via sign-LSH buckets (Similarity.scala)
  */
object Dedup {

  import TextOps._

  /** Exact duplicate groups by content hash. Returns one row per duplicated
    * hash with the kept (min) id and the full sorted member list.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), md5(col(textCol)).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n"), min(col("id")).as("keeper"),
        sort_array(collect_list(col("id"))).as("members"))
      .filter(col("n") > 1)

  /** Exact-dedup projection: keep one deterministic representative (min id)
    * per distinct text. ONE shuffle on the 16-byte md5 key, the full row
    * riding a hash-aggregable min_by (ObjectHashAggregate with map-side
    * partial collapse — duplicate-heavy partitions shrink before the wire).
    * The previous keepers-semi-join shape computed the upstream chain twice
    * (both join sides re-derive `df`) and shuffled three times — measured
    * 2× the whole curate chain's cost at 100k docs (round-4 A/B).
    *
    * PRECONDITION: `idCol` must be unique across `df` (ADVICE r4, low).
    * With duplicate ids over DISTINCT texts, each text group keeps its own
    * min-id row, so the same id can appear more than once in the output —
    * and downstream anti-joins that treat idCol as a key (dropByClusters,
    * dropContaminated) would then drop or keep more rows than intended.
    * (The old semi-join + dropDuplicates(idCol) shape silently collapsed
    * such ids to one arbitrary text instead — also wrong, just quieter.)
    * Every caller in this repo feeds unique ids (doc_id / vec_id keys).
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(col(textCol)).as("__h"))
      .agg(graft.functions.MaxByRow.min_by_row(
        struct(cols.map(col): _*), col(idCol)).as("__r"))
      // a group whose ids are ALL null has no keeper (min_by skips null
      // orderings) — drop it rather than emit an all-null row, matching
      // the previous semi-join's null-never-matches behavior
      .filter(col("__r").isNotNull)
      .select(cols.map(c => col(s"__r.`$c`").as(c)): _*)
  }

  /** MinHash signature from PRE-HASHED shingles: slot j = min_i mix(h_i, j),
    * computed by the codegen'd MinHashSlots expression in ONE pass over the
    * array. (The equivalent k × array_min(transform(...)) higher-order
    * chain is CodegenFallback — interpreted lambdas cost ~2 ms/doc and
    * dominated this operator's round-1 runtime.)
    */
  def minhashSig(hashedShingles: Column, k: Int): Column =
    GraftFunctions.minhash_slots(hashedShingles, k)

  /** Distinct 64-bit shingle hashes of a text column (codegen'd single
    * pass). Downstream Jaccard on these hash SETS equals shingle-set
    * Jaccard up to 64-bit collisions (~n²/2⁶⁴ — negligible), and the arrays
    * are fixed-width longs instead of strings: cheaper to shuffle,
    * intersect and remix.
    */
  def shingleHashes(textCol: Column, shingleN: Int): Column =
    GraftFunctions.word_shingle_hashes(textCol, shingleN)

  /** MinHash/LSH near-duplicate pairs with verified shingle-Jaccard.
    *
    * @param bands  b band buckets of r = k/bands rows each; a pair collides
    *               iff some band's r minhashes all match (P ≈ 1-(1-s^r)^b).
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 48, bands: Int = 16,
                      threshold: Double = 0.6): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // One string-hash pass per document; everything downstream works on the
    // long hashes (signature slots, band keys, and the Jaccard verify).
    val hashed = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleN).as("shh"))
    val withSig = hashed.withColumn("sig", minhashSig(col("shh"), k))
    // band keys: hash the slice of r minhashes per band; explode → bucket.
    // ONLY (id, band, bucket) rides the explode+shuffle — carrying the full
    // shingle arrays here would inflate the shuffle `bands`-fold (the
    // round-1 shape; at 100 TB that is the dominant cost of the whole op).
    val banded = withSig.select(col("id"),
      posexplode(array((0 until bands).map(bd =>
        xxhash64(slice(col("sig"), bd * r + 1, r), lit(bd))): _*))
        .as(Seq("band", "bucket")))
    // within-bucket candidate pairs (self-join on the bucket key — AQE
    // handles residual skew; bucket sizes are small by LSH construction),
    // DEDUPLICATED before the expensive verify: a pair colliding in m bands
    // is verified once, not m times.
    val pairs = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // verify: melt each pair into (pair, side, id) rows and join the hash
    // sets back in ONE pass (two plain joins would scan + re-shingle the
    // corpus once per side), then Jaccard on the reassembled set pair.
    val sides = pairs.select(col("id_a"), col("id_b"),
      posexplode(array(col("id_a"), col("id_b"))).as(Seq("side", "id")))
    sides.join(hashed, Seq("id"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        first(when(col("side") === 0, col("shh")), ignoreNulls = true).as("sh_a"),
        first(when(col("side") === 1, col("shh")), ignoreNulls = true).as("sh_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-duplicate pairs: hamming(sig_a, sig_b) <= maxHamming.
    * Pigeonhole banding on 4×16-bit chunks guarantees no false negatives
    * for maxHamming <= 3.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
      GraftFunctions.simhash64(tokens(col(textCol))).as("sig"))
    val banded = sig.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(bd =>
        shiftrightunsigned(col("sig"), bd * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "chunk")))
    val a = banded.select(col("band"), col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** Exact n-gram-Jaccard similar pairs via an inverted-postings join — the
    * scale-correct EXACT algorithm (no LSH approximation, no cartesian):
    * explode each doc's distinct shingles, equi-join postings on the shingle
    * to count intersections, then |A∩B| / (|A|+|B|−|A∩B|). Pairs sharing
    * zero shingles never materialize, which is exactly the pruning a
    * threshold > 0 permits. Shuffle volume = total postings, not |df|².
    *
    * `sampleMod` restricts the left side to ids ≡ 0 (mod sampleMod) — the
    * same bound the brute variant uses.
    *
    * `maxDocFreq`: the 100 TB guard. A shingle appearing in d documents
    * contributes O(d²) join rows, so one stop-shingle ("in the") present in
    * 10⁹ docs makes the postings join quadratic regardless of bucketing.
    * When set, postings of shingles with document frequency > maxDocFreq
    * are DROPPED before the join. Set sizes stay exact, so the computed
    * Jaccard only ever UNDERCOUNTS intersections: capped results are a
    * subset of the exact results at the same threshold (proven in OpsSpec),
    * and a pair is lost only if > (1−threshold)·|A∪B| of its overlap sits
    * in stop-shingles. None (the default, used by the q21 oracle) keeps the
    * join exact.
    */
  def jaccardPairsByPostings(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int = 3, threshold: Double = 0.5,
                             sampleMod: Int = 1,
                             maxDocFreq: Option[Long] = None): DataFrame =
    jaccardPairsFromSets(
      df.select(col(idCol).as("id"),
        array_distinct(shingles(tokens(col(textCol)), shingleN)).as("sh")),
      threshold, sampleMod, maxDocFreq)

  /** Postings-join Jaccard over a prepared `(id, sh: array<string> SET)`
    * frame (see jaccardPairsByPostings for the algorithm and bounds).
    */
  def jaccardPairsFromSets(sets: DataFrame, threshold: Double,
                           sampleMod: Int = 1,
                           maxDocFreq: Option[Long] = None): DataFrame = {
    require(threshold > 0.0, "threshold must be > 0 (zero-overlap pairs are pruned)")
    val t = sets.select(col("id"), col("sh"), size(col("sh")).as("sz"))
    val postings0 = t.select(col("id"), col("sz"), explode(col("sh")).as("tok"))
    val postings = maxDocFreq match {
      case None => postings0
      case Some(cap) =>
        // stop-shingle list is tiny by construction (few shingles exceed the
        // cap) → broadcast anti-join, no extra shuffle of the postings.
        val heavy = postings0.groupBy(col("tok"))
          .agg(count(lit(1)).as("df")).filter(col("df") > cap).select("tok")
        postings0.join(broadcast(heavy), Seq("tok"), "left_anti")
    }
    val left = postings.filter(pmod(col("id"), lit(sampleMod)) === 0)
      .select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"))
    val right = postings
      .select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b"))
    left.join(right, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected pair list `(id_a, id_b)` —
    * the step that turns PAIRWISE near-dup hits (minhash/simhash/cosine/
    * jaccard) into duplicate CLUSTERS with one keeper each. Distributed
    * min-label propagation: each round every vertex adopts the smallest
    * label among itself and its neighbors (one join + one min-aggregate —
    * both plain shuffles on id), until a round changes nothing. Rounds =
    * cluster diameter; near-dup clusters are dense (diameter 1-3), so at
    * 10^12 rows this is a handful of hash shuffles over the EDGE list
    * (|edges| ≪ |corpus| after LSH), never a driver-side union-find and
    * never O(n²). `localCheckpoint` truncates the per-round lineage so the
    * plan doesn't grow with iterations.
    *
    * @return (id, component) for every vertex appearing in `pairs`;
    *         component = min id of the vertex's cluster. Isolated docs
    *         (no near-dup pair) are their own implicit singleton clusters
    *         and are not materialized.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("src").as("id"))
      .distinct().withColumn("lbl", col("id"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      // neighbor labels flow along edges; min with own label
      val msgs = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("lbl"))
      val next = labels.select(col("id"), col("lbl")).union(msgs)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      // converged iff no label changed (anti-join on the exact pair)
      converged = next.join(labels,
        next("id") === labels("id") && next("lbl") === labels("lbl"),
        "left_anti").isEmpty
      labels = next
    }
    // Exiting via the iteration cap means some chain-shaped cluster has
    // diameter > maxIter and the labels are WRONG (not yet the component
    // minimum). Returning them silently would fail an exact-closure oracle
    // with no diagnostic (ADVICE r3, low) — fail loudly instead; callers
    // with genuinely deep graphs raise maxIter (rounds = diameter).
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a cluster's diameter exceeds maxIter; raise it for chain-shaped graphs")
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** Line-level boilerplate dedup (the C4/Dolma recipe): a line whose
    * trim-normalized form occurs in ≥ `minDocFreq` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, license footers) and is removed
    * from every document; document order of the surviving lines is
    * preserved. One row out per row in — fully-boilerplate docs come back
    * with `clean_text = ""` so the caller's length filter decides their
    * fate.
    *
    * Scale shape (the whole point vs a per-doc UDF): explode is
    * shuffle-free; the doc-frequency aggregate is one hash shuffle on a
    * 64-bit line key (xxhash64 of the trimmed line — 8 bytes shuffled per
    * line instead of the line text; a 2⁻⁶⁴ collision can only FLIP a rare
    * line to boilerplate, never corrupt output text, since removal drops
    * the doc's own line); the boilerplate set it produces is tiny relative
    * to the corpus, so AQE turns the membership join into a broadcast; the
    * only unavoidable shuffle is the per-doc reassembly aggregate. No
    * window functions, no driver-side state.
    *
    * @return (idCol, n_lines, n_removed, clean_text)
    */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                           minDocFreq: Int): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq < 2 would remove every line")
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lk", xxhash64(trim(col("line"))))
    val boiler = lines.groupBy(col("lk"))
      .agg(count_distinct(col("id")).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFreq)
      .select(col("lk"), lit(true).as("bp"))
    lines.join(boiler, Seq("lk"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        coalesce(sum(when(col("bp"), 1L)), lit(0L)).as("n_removed"),
        // collect_list skips nulls, so only kept lines are gathered; the
        // struct sorts by pos first, restoring document order
        array_join(transform(
          array_sort(collect_list(when(col("bp").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
      .withColumnRenamed("id", idCol)
  }

  /** Cluster-level dedup projection: drop every row whose id is a
    * non-representative member of a near-dup cluster (keeper = min id,
    * matching dropExactDuplicates' deterministic choice).
    */
  def dropByClusters(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental (cross-snapshot) EXACT dedup: drop new-batch rows whose
    * content hash already exists in the curated reference corpus — the
    * steady-state ingest shape at 100 TB, where re-deduplicating the whole
    * corpus per arriving batch is impossible. The reference contributes
    * ONLY its distinct 16-byte md5 hashes (a sidecar any snapshot can
    * precompute and persist once); the batch anti-joins on the hash, so the
    * reference's text bytes never move and the shuffle is bounded by
    * |ref| × 16 B + |batch|. Batch-internal duplicates are untouched —
    * compose with `dropExactDuplicates` for within-batch collapse.
    */
  def dropSeenExact(batch: DataFrame, ref: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val seen = ref.select(md5(col(textCol)).as("__h")).distinct()
    batch.withColumn("__h", md5(col(textCol)))
      .join(seen, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Incremental NEAR-dup dedup: drop new-batch rows whose verified shingle
    * Jaccard against ANY reference document reaches `threshold`, using the
    * same minhash/band/bucket machinery as `minhashNearDups` but across the
    * two tables — candidates are (batch, ref) band-bucket collisions only,
    * so the comparison count is LSH-bounded, never |batch|×|ref|. The
    * reference's banding + shingle hashes are recomputed here for
    * self-containment; a production deployment persists them as snapshot
    * sidecars and this function's plan shape is unchanged.
    */
  def dropSeenNearDup(batch: DataFrame, ref: DataFrame, idCol: String,
                      textCol: String, shingleN: Int = 3, k: Int = 48,
                      bands: Int = 16, threshold: Double = 0.6): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    def prep(df: DataFrame): (DataFrame, DataFrame) = {
      val hashed = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleN).as("shh"))
      val banded = hashed.withColumn("sig", minhashSig(col("shh"), k))
        .select(col("id"), posexplode(array((0 until bands).map(bd =>
          xxhash64(slice(col("sig"), bd * r + 1, r), lit(bd))): _*))
          .as(Seq("band", "bucket")))
      (hashed, banded)
    }
    val (bHashed, bBanded) = prep(batch)
    val (rHashed, rBanded) = prep(ref)
    val cands = bBanded.select(col("band"), col("bucket"), col("id").as("bid"))
      .join(rBanded.select(col("band"), col("bucket"), col("id").as("rid")),
        Seq("band", "bucket"))
      .select(col("bid"), col("rid")).distinct()
    val dupIds = cands
      .join(bHashed.select(col("id").as("bid"), col("shh").as("sh_b")), Seq("bid"))
      .join(rHashed.select(col("id").as("rid"), col("shh").as("sh_r")), Seq("rid"))
      .filter(jaccard(col("sh_b"), col("sh_r")) >= threshold)
      .select(col("bid").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** n-gram Jaccard similarity for explicit candidate pairs (brute variant
    * used as the LSH recall oracle in tests; bounded by `sampleMod` so the
    * pair count stays ~|df|²/mod). Test-oracle only — the postings join
    * above is the production shape.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        sampleMod: Int = 1): DataFrame = {
    val t = df.select(col(idCol).as("id"),
      array_distinct(shingles(tokens(col(textCol)), shingleN)).as("sh"))
    val left = t.filter(pmod(col("id"), lit(sampleMod)) === 0)
      .select(col("id").as("id_a"), col("sh").as("sh_a"))
    val right = t.select(col("id").as("id_b"), col("sh").as("sh_b"))
    left.crossJoin(right)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
