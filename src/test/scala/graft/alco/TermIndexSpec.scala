package graft.alco

import graft.SparkSpec
import graft.functions.{BloomTermsHit, TokenBloom, TokenBloomAgg}
import org.apache.spark.sql.functions.{col, concat, lit, monotonically_increasing_id, when}

class TermIndexSpec extends SparkSpec {

  private lazy val out = tmpDir("termindex")
  private lazy val routedPath = {
    Pipeline.run(spark, Gen.turns(spark, 10000L).toDF(), out, Pipeline.Config())
    s"$out/routed"
  }

  private def rows(q: Grep.Query) =
    Grep.query(spark, routedPath, q).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSet

  // every query takes ALL its matches (limit far above corpus size), so
  // tie-order differences can't leak into the set compare
  private val queries = Seq(
    Grep.Query(terms = Seq("retry", "latency"), mode = Grep.MatchAny, limit = 1000000),
    Grep.Query(terms = Seq("retry", "merge"), mode = Grep.MatchAll, limit = 1000000),
    Grep.Query(terms = Seq("retry", "logic"), mode = Grep.MatchPhrase, limit = 1000000),
    Grep.Query(terms = Seq("retry", "latency", "merge"),
      mode = Grep.MatchQuorum(2), limit = 1000000),
    // duplicate-term quorum: satisfied by "retry" alone — a file holding
    // retry-rows but no "latency" must NOT be pruned (multiplicity bound)
    Grep.Query(terms = Seq("retry", "retry", "latency"),
      mode = Grep.MatchQuorum(2), limit = 1000000),
    Grep.Query(terms = Seq("retry", "merge"),
      mode = Grep.MatchProximity(6), limit = 1000000),
    Grep.Query(terms = Seq("421"), mode = Grep.MatchAll,
      notTerms = Seq("latency"), limit = 1000000),
    Grep.Query(terms = Seq("421", "137"), mode = Grep.MatchAny,
      filters = Map("role" -> Seq("user", "assistant")), limit = 1000000))

  test("token bloom: no false negatives, bounded false positives") {
    val bloom = new Array[Byte](8192 / 8)
    val in = (0 until 200).map(i => s"tok$i")
    in.foreach { t =>
      val a = TokenBloom.h1(t); TokenBloom.set(bloom, a, TokenBloom.h2(a))
    }
    assert(in.forall(TokenBloom.mightContain(bloom, _)), "bloom missed a stored token")
    val fp = (0 until 1000).count(i => TokenBloom.mightContain(bloom, s"absent$i"))
    // m/n = 41 bits/token, k=6 → fpp well under 1%; allow generous slack
    assert(fp < 50, s"false-positive rate too high: $fp/1000")
  }

  test("probe plan: mode semantics and the pure-token guard") {
    def plan(q: Grep.Query) = Grep.probePlan(q)
    assert(plan(Grep.Query()) == None)
    assert(plan(Grep.Query(terms = Seq("A", "b", "a"), mode = Grep.MatchAny))
      .contains((Seq("a", "b"), 1)))
    assert(plan(Grep.Query(terms = Seq("a", "b"), mode = Grep.MatchAll))
      .contains((Seq("a", "b"), 2)))
    // phrase terms with separators probe their word-tokens
    assert(plan(Grep.Query(terms = Seq("a.b", "c"), mode = Grep.MatchPhrase))
      .contains((Seq("a", "b", "c"), 3)))
    // non-pure terms make ALL/QUORUM/PROXIMITY unprunable (conservative)
    assert(plan(Grep.Query(terms = Seq("a.b"), mode = Grep.MatchAll)) == None)
    assert(plan(Grep.Query(terms = Seq("a.b", "c"), mode = Grep.MatchQuorum(1))) == None)
    // ANY falls back to the pure subset
    assert(plan(Grep.Query(terms = Seq("a.b", "c"), mode = Grep.MatchAny))
      .contains((Seq("c"), 1)))
    assert(plan(Grep.Query(terms = Seq("x", "y"), mode = Grep.MatchQuorum(5)))
      .contains((Seq("x", "y"), 2)))
    // duplicate quorum terms: one distinct token carries its multiplicity,
    // so ["a","a","b"]/2 is satisfied by "a" alone — minMatch must be 1
    assert(plan(Grep.Query(terms = Seq("a", "a", "b"), mode = Grep.MatchQuorum(2)))
      .contains((Seq("a", "b"), 1)))
    assert(plan(Grep.Query(terms = Seq("a", "a", "b"), mode = Grep.MatchQuorum(3)))
      .contains((Seq("a", "b"), 2)))
    // k <= 0 degenerates to match-everything: minMatch 0 prunes nothing
    assert(plan(Grep.Query(terms = Seq("a", "b"), mode = Grep.MatchQuorum(0)))
      .contains((Seq("a", "b"), 0)))
  }

  test("index build prunes rare-token greps without changing ANY result") {
    val before = queries.map(rows)
    val b = TermIndex.build(spark, out, numBits = 1 << 16).get
    assert(b.freshFiles == b.indexedFiles && b.reusedFiles == 0)
    // rare digit tokens live in a handful of the partition files
    val pr = TermIndex.pruneFiles(spark, routedPath, Seq("421", "137"), 1).get
    assert(pr.keep.size < pr.total,
      s"expected pruning, kept ${pr.keep.size} of ${pr.total}")
    // the scan itself shrinks, not just the driver-side list
    val full = Grep.query(spark, routedPath,
      Grep.Query(limit = 10)).inputFiles.length
    val pruned = Grep.query(spark, routedPath, queries.last).inputFiles.length
    assert(pruned < full, s"pruned scan reads $pruned of $full files")
    assert(queries.map(rows) == before, "pruning changed a query result")
  }

  test("a useless probe (keeps >90% of files) short-circuits to a full scan") {
    TermIndex.build(spark, out, numBits = 1 << 16)
    // ANY-probe whose terms cover every generated row shape (each P3
    // sentence head + CALL/RESULT keywords): every file's bloom hits ≥ 1
    // term → keep fraction 1.0 > PruneUselessFrac → pruneFiles declares
    // the probe useless and the grep falls back to the committed read path
    val common = Seq("the", "please", "retry", "ignore", "we", "call", "result")
    assert(TermIndex.pruneFiles(spark, routedPath, common, 1).isEmpty,
      "a probe keeping every file should return None")
    // result set is unchanged by the fallback (pruning is only ever a scan
    // optimization)
    val q = Grep.Query(terms = common, mode = Grep.MatchAny, limit = 1000000)
    val viaIndex = Grep.query(spark, routedPath, q)
    val direct = Manifest.readCommitted(spark, routedPath).get
      .filter(Grep.matchPredicate(common, Grep.MatchAny))
    assert(viaIndex.count() == direct.count())
  }

  test("a match no file can satisfy returns empty with the schema intact") {
    TermIndex.build(spark, out, numBits = 1 << 16)
    val df = Grep.query(spark, routedPath,
      Grep.Query(terms = Seq("zzzqqqneverseen"), mode = Grep.MatchAll, limit = 10))
    assert(df.columns.contains("text") && df.count() == 0)
  }

  test("vacuum sweeps stale crashed-build staging but never live staging") {
    TermIndex.build(spark, out, numBits = 1 << 16)
    val idxRoot = java.nio.file.Paths.get(s"$routedPath/_termindex2")
    val stale = idxRoot.resolve(".build-stale")
    val live = idxRoot.resolve(".build-live")
    // a long-running build's staging dir keeps its START mtime while tasks
    // write INSIDE it — the quiet test must walk the tree, not trust the
    // top-level dir (so `live` here is old at the top but fresh within)
    java.nio.file.Files.createDirectories(stale.resolve("_temporary"))
    java.nio.file.Files.createDirectories(live.resolve("_temporary"))
    java.nio.file.Files.write(live.resolve("_temporary/attempt-1"),
      Array[Byte](1))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 60 * 60 * 1000)
    Seq(stale, stale.resolve("_temporary"), live).foreach(
      java.nio.file.Files.setLastModifiedTime(_, old))
    // trigger another build (already-indexed snapshot short-circuits before
    // vacuum, so ingest a batch to advance the snapshot first)
    Pipeline.run(spark, Gen.turns(spark, 1000L, seed = 11L).toDF(), out,
      Pipeline.Config(), batchId = 7L)
    TermIndex.build(spark, out, numBits = 1 << 16)
    assert(!java.nio.file.Files.exists(stale), "tree-quiet staging must be swept")
    assert(java.nio.file.Files.exists(live),
      "staging with fresh writes inside must survive")
    org.apache.commons.io.FileUtils.deleteDirectory(live.toFile)
  }

  test("pruning composes with sink selection and multi-table union") {
    val out2 = tmpDir("termindex2")
    Pipeline.run(spark, Gen.turns(spark, 3000L, seed = 5L).toDF(), out2,
      Pipeline.Config())
    val q = Grep.Query(terms = Seq("retry", "137"), mode = Grep.MatchAny,
      limit = 1000000)
    val sinks = Seq(SinkKey("bash", "tool"), SinkKey("", "user"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))
    val sinksBefore = Grep.querySinks(spark, s"$out2/routed", sinks, q)
      .collect().map(key).toSet
    val unionBefore = Grep.queryTables(spark, Seq(routedPath, s"$out2/routed"), q)
      .collect().map(key).toSet
    TermIndex.build(spark, out2, numBits = 1 << 16)
    assert(Grep.querySinks(spark, s"$out2/routed", sinks, q)
      .collect().map(key).toSet == sinksBefore)
    // shard 1 (routedPath) is indexed by earlier tests, shard 2 now too —
    // each prunes independently inside the union
    assert(Grep.queryTables(spark, Seq(routedPath, s"$out2/routed"), q)
      .collect().map(key).toSet == unionBefore)
  }

  test("partition values that URI-encode still index, prune, and reuse") {
    // input_file_name() reports percent-ENCODED URIs while manifest names
    // are raw — a spacey tool value ("tool_key=my tool bash/...") is the
    // regression: pre-fix, its blooms were stored under the encoded name,
    // never matched the manifest (silent no-prune) and never survived the
    // reuse join (every rebuild re-scanned it)
    val out3 = tmpDir("termindex3")
    val spacey = Gen.turns(spark, 2000L, seed = 3L).toDF()
      .withColumn("tool", when(col("tool") =!= "",
        concat(lit("my tool "), col("tool"))).otherwise(col("tool")))
    Pipeline.run(spark, spacey, out3, Pipeline.Config())
    val rp = s"$out3/routed"
    assert(Manifest.latest(rp).get.files.exists(_.contains(" ")),
      "fixture must actually produce a URI-encoding partition value")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))
    val q = Grep.Query(terms = Seq("421", "137"), mode = Grep.MatchAny,
      limit = 1000000)
    val before = Grep.query(spark, rp, q).collect().map(key).toSet
    // build's row-count invariant throws if any file's bloom row mismaps
    val b = TermIndex.build(spark, out3, numBits = 1 << 16).get
    assert(b.freshFiles == b.indexedFiles && b.indexedFiles > 0)
    assert(Grep.query(spark, rp, q).collect().map(key).toSet == before)
    // rebuild after a new batch must REUSE every surviving file's bloom —
    // survivors = first-snapshot files the batch-1 REPLACE merge did NOT
    // rewrite (overlapping partitions get copy-on-write fresh names)
    val firstFiles = Manifest.latest(rp).get.files.toSet
    Pipeline.run(spark, Gen.turns(spark, 500L, seed = 4L).toDF(), out3,
      Pipeline.Config(), batchId = 1L)
    val survivors = firstFiles.intersect(Manifest.latest(rp).get.files.toSet)
    assert(survivors.exists(_.contains(" ")),
      "at least one surviving file must carry the spacey partition")
    val b2 = TermIndex.build(spark, out3, numBits = 1 << 16).get
    assert(b2.reusedFiles == survivors.size,
      s"every survivor (spacey included) must be reused: $b2 vs ${survivors.size}")
  }

  test("incremental rebuild reuses prior blooms; compaction degrades safely") {
    TermIndex.build(spark, out, numBits = 1 << 16)
    // second batch → new files; rebuild must scan ONLY those
    Pipeline.run(spark, Gen.turns(spark, 3000L, seed = 9L).toDF(), out,
      Pipeline.Config(), batchId = 1L)
    val before = queries.map(rows)
    val b2 = TermIndex.build(spark, out, numBits = 1 << 16).get
    assert(b2.reusedFiles > 0 && b2.freshFiles > 0 &&
      b2.freshFiles + b2.reusedFiles == b2.indexedFiles, s"got $b2")
    assert(queries.map(rows) == before, "incremental index changed a result")
    // compaction renames files: the stale index must only lose coverage
    // (renamed files are always scanned), never rows
    val r = Compact.compact(spark, out, minFiles = 2)
    if (r.compactedPartitions.nonEmpty) {
      assert(queries.map(rows) == before, "stale index after compaction changed a result")
      val b3 = TermIndex.build(spark, out, numBits = 1 << 16).get
      assert(b3.freshFiles > 0, "compacted files must re-index")
      assert(queries.map(rows) == before, "post-compaction rebuild changed a result")
    }
  }

  test("pruning never changes a grep answer on non-ASCII or null/empty text") {
    // Unicode lowering maps U+212A (Kelvin sign) to `k` and U+0130 to `i`
    // plus U+0307, while the byte-scan predicates fold ASCII only: blooms
    // built from lower(text) held `zzvortexk` where the predicates see the
    // token `zzvortex`, and an indexed MatchAll(zzvortex) lost its rows
    val suffixes = Seq(
      " zzvortex\u212A", // Kelvin sign
      " ZZISTAN\u0130BUL", // dotted capital I
      " zzd\u0131sk", // dotless small i
      " zzcyr Привет, мир", // Cyrillic
      " zzcafe\u0301 zzna\u0308ive", // combining marks
      " ZZISTAN\u0130BUL zzd\u0131sk")
    val generated = Gen.turns(spark, 5000L, seed = 21L).collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    val chat = generated.filterNot(t =>
      t.text.startsWith("CALL") || t.text.startsWith("RESULT"))
    // in each of 150 blocks of 20 chat turns, the first six take one suffix each
    val suffixOf = chat.zipWithIndex.collect {
      case (t, i) if i % 20 < suffixes.size && i / 20 < 150 =>
        (t.conv_id, t.turn_idx) -> suffixes(i % 20)
    }.toMap
    assert(suffixOf.size == 150 * suffixes.size)
    val ts = generated.head.ts
    // null and empty text are quarantined: the table never holds them
    val input = generated.map(t => t.copy(text =
        t.text + suffixOf.getOrElse((t.conv_id, t.turn_idx), ""))) ++
      Seq(Turn("conv_nulltext", 0, "user", null, "", ts),
        Turn("conv_emptytext", 0, "user", "", "", ts))
    val dir = tmpDir("termindex_unicode")
    import spark.implicits._
    Pipeline.run(spark, input.toSeq.toDS().toDF(), dir, Pipeline.Config())
    val rp = s"$dir/routed"

    val modes = Seq(
      Seq("zzvortex") -> Grep.MatchAll,
      Seq("ZZVORTEX", "zzcafe") -> Grep.MatchAny,
      Seq("ZZISTAN", "BUL") -> Grep.MatchAll,
      Seq("привет", "zzcyr") -> Grep.MatchAny,
      Seq("", "zzd") -> Grep.MatchAny, // "" hits text ending in a separator
      Seq("zzd", "sk") -> Grep.MatchPhrase,
      Seq("zzna\u0308ive") -> Grep.MatchPhrase, // rlike fallback
      Seq(" zzvortexk") -> Grep.MatchPhrase, // rlike fallback
      Seq("zzistan", "zzd", "zzcyr") -> Grep.MatchQuorum(2),
      Seq("bul", "zzistan") -> Grep.MatchProximity(2),
      Seq("ZZVORTEX\u212A") -> Grep.MatchAny)
    // rlike fallback phrases whose non-ASCII letters keep their case: each
    // matches the 150 turns whose text it was copied from
    val ownText = Seq(Seq("Привет,", "мир"), Seq("zzvortex\u212A"))
    val queries = (modes ++ ownText.map(_ -> Grep.MatchPhrase)).map {
      case (terms, mode) =>
        Grep.Query(terms = terms, mode = mode, limit = 1000000) }
    def keys(q: Grep.Query) = Grep.query(spark, rp, q).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSet
    val unindexed = queries.map(keys)
    assert(unindexed.head.size == 150, "every Kelvin-suffixed turn matches")
    assert(unindexed.takeRight(ownText.size).map(_.size) == ownText.map(_ => 150),
      "a phrase must match the text it was copied from")
    // a sidecar left by the earlier lower(text) tokenizer is neither read
    // nor reused; this one claims that no file holds any token
    val snap = Manifest.latest(rp).get
    snap.files.map(fl => (fl, new Array[Byte](1 << 13))).toDF("file", "bloom")
      .write.parquet(s"$rp/_termindex/v-${snap.snapshotId}")
    TermIndex.build(spark, dir, numBits = 1 << 16)
    queries.zip(unindexed).foreach { case (q, before) =>
      val after = keys(q)
      val same = after == before
      assert(same, s"pruning changed ${q.mode} ${q.terms}: " +
        s"${before.size} rows unindexed, ${after.size} indexed")
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$rp/_termindex")),
      "the build deletes the earlier tokenizer's sidecar")
    val pr = TermIndex.pruneFiles(spark, rp, Seq("zzvortex"), 1).get
    assert(pr.keep.nonEmpty && pr.keep.size < pr.total,
      s"the Kelvin probe must prune: kept ${pr.keep.size} of ${pr.total}")

    // row level, null and empty text included: a row a predicate accepts
    // has a bloom that passes the query's probe
    val rows = (suffixes.map(_.trim) ++ suffixes ++ Seq(null, "", "!"))
      .toDF("text").withColumn("id", monotonically_increasing_id()).cache()
    val blooms = rows.groupBy("id")
      .agg(TokenBloomAgg.token_bloom(TermIndex.tokensCol, 1 << 12).as("bloom"))
    queries.foreach { q =>
      Grep.probePlan(q).foreach { case (toks, minMatch) =>
        val missed = rows.filter(Grep.matchPredicate(q.terms, q.mode))
          .join(blooms, "id")
          .filter(BloomTermsHit.bloom_terms_hit(col("bloom"), toks) < minMatch)
        assert(missed.isEmpty, s"probe drops a matching row: ${q.mode} ${q.terms}")
      }
    }
  }
}
