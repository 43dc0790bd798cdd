package graft.alco

import graft.functions.{BloomTermsHit, TokenBloomAgg}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file term-Bloom index for the grep surface — the prunable remnant of
  * alco's Sphinx inverted index (SURVEY §2 O14 stretch goal). Sphinx kept a
  * full postings list per term; at the 100 TB design point the equivalent
  * Spark-native artifact is a SIDECAR table with one row per committed data
  * file: (file, bloom-of-its-text-tokens). A grep whose match requires
  * terms t₁…tₙ first probes the sidecar — a scan of ~0.1-1% of the table's
  * bytes, bloom column only — and reads exactly the files whose blooms
  * might satisfy the match; a bloom never misses a stored token, so
  * pruning is sound (false positives only cost an extra file scan, never a
  * missed row).
  *
  * Build is a maintenance job (the Sphinx `indexer` analog, like Compact):
  * one distributed pass over the data files NOT yet indexed — blooms are
  * immutable per file because committed files are never rewritten in place
  * (copy-on-write merge/compaction produce NEW names), so a rebuild after
  * N ingest batches reuses every prior bloom and scans only the new files'
  * text. Versions are published atomically under
  * `_termindex2/v-<snapshotId>` (tmp dir + rename, `_SUCCESS`-guarded);
  * readers take the newest complete version and treat unindexed files as
  * always-scan, so a stale index is merely less effective, never wrong —
  * the same property that makes crash/concurrent-build races harmless
  * (losers delete their tmp and walk away).
  *
  * Scale: the sidecar is O(#files) rows ≈ 800k at 100 TB / 128 MB files;
  * with the default 2²³-bit blooms (1 MB, ~2% fpp at 1M distinct tokens)
  * the index is ~0.8% of table size, the prune job reads only its bloom
  * column, and the build shuffles per-file PARTIAL blooms (map-side
  * combine in the typed aggregate), never row text.
  */
object TermIndex {

  final case class BuildResult(
      snapshotId: Long,
      indexedFiles: Long,
      freshFiles: Long,
      reusedFiles: Long)

  /** `keep` = the snapshot-isolated file list a matching grep must scan
    * (probe survivors + files the index has no bloom for); `total` = the
    * snapshot's committed file count. `keep` is derived from ONE manifest
    * read, so callers must scan exactly this list, not re-resolve.
    */
  final case class Prune(keep: Seq[String], total: Int, firstCommitted: String)

  /** Not `_termindex`: blooms there came from `lower(text)` and can lack
    * tokens the byte scans match (U+212A), so they are never reused.
    */
  private def indexRoot(routedPath: String): String = s"$routedPath/_termindex2"
  private def versionDir(routedPath: String, id: Long): String =
    s"${indexRoot(routedPath)}/v-$id"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Newest COMPLETE index version (has Spark's _SUCCESS marker). */
  private def latestVersion(spark: SparkSession,
                            routedPath: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(indexRoot(routedPath))
    val f = fs(spark, routedPath)
    if (!f.exists(root)) return None
    f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v-"))
      .flatMap(s => scala.util.Try(s.getPath.getName.stripPrefix("v-").toLong)
        .toOption)
      .filter(id => f.exists(new org.apache.hadoop.fs.Path(
        s"${versionDir(routedPath, id)}/_SUCCESS")))
      .sorted.lastOption
  }

  private def readVersion(spark: SparkSession, routedPath: String,
                          id: Long): DataFrame =
    TableRead(spark, Seq(versionDir(routedPath, id)))

  /** The byte-scan predicates' tokens (ByteScan): maximal ASCII `\w` runs
    * (Java's `\W` is the ASCII word complement), empties included — the
    * aggregate skips them and folds A-Z itself. Never `lower(text)` first:
    * Unicode lowering maps U+212A (Kelvin sign) to `k` and U+0130 to `i`
    * plus a combining dot, growing tokens the predicates never see, and
    * a missing token prunes a matching file. TermIndexSpec pins
    * indexed ≡ unindexed on such text.
    */
  private[alco] def tokensCol: Column = split(col("text"), "\\W+")

  /** Build (or incrementally refresh) the index for the CURRENT committed
    * snapshot of `outRoot`'s routed table. No-op returning the existing
    * result when that snapshot is already indexed. Returns None when the
    * table has no committed snapshot.
    */
  def build(spark: SparkSession, outRoot: String,
            numBits: Int = 1 << 23, keepVersions: Int = 2): Option[BuildResult] = {
    val routedPath = s"$outRoot/routed"
    val snap = Manifest.latest(routedPath).getOrElse(return None)
    val f = fs(spark, routedPath)
    val target = versionDir(routedPath, snap.snapshotId)
    if (f.exists(new org.apache.hadoop.fs.Path(s"$target/_SUCCESS")))
      // indexed row count == the snapshot's committed file count — already
      // driver-side; no Spark job on the no-op cron path
      return Some(BuildResult(snap.snapshotId, snap.files.size.toLong, 0, 0))

    val committed = snap.files
    val prior = latestVersion(spark, routedPath)
    // prior file names are driver-side metadata, same O(#files) order as
    // the manifest itself
    val priorFiles: Set[String] = prior.map(id =>
      readVersion(spark, routedPath, id).select("file")
        .collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    val freshFiles = committed.filterNot(priorFiles)

    // committed files live at tool_key=…/role=…/day=…/<name>, so a scanned
    // row's file is the URI's last four segments — but input_file_name()
    // reports the PERCENT-ENCODED URI (Hadoop Path.toUri) while manifest
    // names are raw FileStatus names. Join back to the raw name through a
    // driver-built (encoded → raw) mapping that derives the encoded form
    // from the SAME Path.toUri the scan does, so any partition value that
    // URI-encodes (spaces, Spark's own %-escapes, unicode) maps exactly;
    // a name-derivation regression shows up as a dropped join row, and the
    // row-count invariant below turns that into a hard failure instead of
    // silently-missing blooms.
    def encLast4(fl: String): String =
      new org.apache.hadoop.fs.Path(s"/$fl").toUri.getRawPath
        .split("/").takeRight(4).mkString("/")
    val relFile = concat_ws("/", slice(split(input_file_name(), "/"), -4, 4))
    val fresh =
      if (freshFiles.isEmpty)
        None
      else {
        val mapping = spark.createDataset(
            freshFiles.map(fl => (encLast4(fl), fl)))(
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.STRING))
          .toDF("enc", "file")
        Some(TableRead(spark, freshFiles.map(fl => s"$routedPath/$fl"), Some(routedPath))
          .select(relFile.as("enc"), tokensCol.as("toks"))
          .groupBy(col("enc"))
          .agg(TokenBloomAgg.token_bloom(col("toks"), numBits).as("bloom"))
          .join(broadcast(mapping), Seq("enc"))
          .select(col("file"), col("bloom")))
      }
    val reused = prior.map(id =>
      readVersion(spark, routedPath, id)
        .join(spark.createDataset(committed)(
          org.apache.spark.sql.Encoders.STRING).toDF("file"), Seq("file")))
    val index = (fresh, reused) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return Some(BuildResult(snap.snapshotId, 0, 0, 0))
    }

    val tmp = s"${indexRoot(routedPath)}/.build-${java.util.UUID.randomUUID()}"
    // O(#files) rows — a handful of output files is plenty at any scale
    val written = index.coalesce(8).cache()
    try {
      TableWrite(written, tmp, SaveMode.Overwrite)
      // every committed file must have exactly one bloom row — a dropped
      // mapping join row or a reuse-join miss fails LOUDLY before publish
      val n = written.count()
      if (n != committed.size) {
        f.delete(new org.apache.hadoop.fs.Path(tmp), true)
        throw new IllegalStateException(
          s"term index row count $n != committed file count ${committed.size}" +
            " — aborting before publish")
      }
    } finally written.unpersist()
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val targetPath = new org.apache.hadoop.fs.Path(target)
    // Hadoop rename(src, existingDir) MOVES src INSIDE the dir and returns
    // true — so a lost race doesn't report false, it nests our staging in
    // the winner's version dir. Pre-check, then sweep the nested dir if the
    // race landed between the check and the rename; either way the winner's
    // published version is valid and complete.
    val published = !f.exists(targetPath) && f.rename(tmpPath, targetPath)
    val nested = new org.apache.hadoop.fs.Path(targetPath, tmpPath.getName)
    if (f.exists(nested)) f.delete(nested, true)
    if (!published && f.exists(tmpPath)) f.delete(tmpPath, true)
    vacuum(spark, routedPath, keepVersions)
    val reusedCount = (committed.size - freshFiles.size).toLong
    Some(BuildResult(snap.snapshotId, committed.size.toLong,
      freshFiles.size.toLong, reusedCount))
  }

  /** Delete index versions beyond the newest `keep` (concurrent readers of
    * a just-superseded version get a grace window of one more build) and
    * the old `_termindex` root, and sweep `.build-*` staging dirs a crashed
    * builder left behind. A LIVE concurrent build must never lose its
    * staging (the Bench sweep lesson, ADVICE r4) — and the staging dir's
    * own mtime is set at job start and never advances, so the quiet test
    * walks the TREE for the newest mtime (in-flight tasks keep creating
    * attempt files inside `_temporary`) and requires a full hour of silence. A build quiet for an hour yet still
    * alive would have to write nothing at all in that hour — at that point
    * it is indistinguishable from a crash and loses its (re-runnable)
    * staging, never any published data.
    */
  private def vacuum(spark: SparkSession, routedPath: String, keep: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexRoot(routedPath))
    val f = fs(spark, routedPath)
    f.delete(new org.apache.hadoop.fs.Path(s"$routedPath/_termindex"), true)
    if (!f.exists(root)) return
    val entries = f.listStatus(root).toSeq.filter(_.isDirectory)
    val ids = entries.filter(_.getPath.getName.startsWith("v-"))
      .flatMap(s => scala.util.Try(s.getPath.getName.stripPrefix("v-").toLong)
        .toOption).sorted
    ids.dropRight(keep).foreach(id => f.delete(
      new org.apache.hadoop.fs.Path(versionDir(routedPath, id)), true))
    def newestMtime(p: org.apache.hadoop.fs.Path): Long = {
      val st = f.listStatus(p)
      (st.map(_.getModificationTime) ++
        st.filter(_.isDirectory).map(s => newestMtime(s.getPath))).foldLeft(
        f.getFileStatus(p).getModificationTime)(math.max)
    }
    val cutoff = System.currentTimeMillis() - 60 * 60 * 1000
    entries.filter(_.getPath.getName.startsWith(".build-"))
      .filter(s => scala.util.Try(newestMtime(s.getPath)).toOption
        .exists(_ < cutoff))
      .foreach(s => scala.util.Try(f.delete(s.getPath, true)))
  }

  /** The files a grep needing >= `minMatch` of `tokens` (pre-folded pure
    * tokens) must scan, under the current committed snapshot. None when no
    * manifest or no index exists (caller falls back to the full table), and
    * None when the probe keeps more than [[PruneUselessFrac]] of the files
    * (r6, VERDICT r5 #6): a near-complete keep list saves almost no scan
    * while forcing the caller onto an explicit per-file read path — the
    * full-table read is the better plan, and pruning may never change the
    * ANSWER either way, only the scanned file list.
    * Sound by construction: a file is dropped ONLY when its bloom proves
    * fewer than `minMatch` of the tokens ever occurred in it; files the
    * index does not cover are always kept.
    *
    * Driver footprint: the probe collects one (file, bool) pair per
    * committed file — O(#files) driver memory, the same order as the
    * manifest read itself (~800k files ≈ tens of MB at the 100 TB design
    * point). The probe job reads ONLY the sidecar's `file`/`bloom` columns.
    */
  def pruneFiles(spark: SparkSession, routedPath: String,
                 tokens: Seq[String], minMatch: Int): Option[Prune] = {
    val snap = Manifest.latest(routedPath).getOrElse(return None)
    if (snap.files.isEmpty) return None
    val ver = latestVersion(spark, routedPath).getOrElse(return None)
    // one tiny job over the sidecar: (file, survives-probe) pairs
    val probed = readVersion(spark, routedPath, ver)
      .select(col("file"),
        (BloomTermsHit.bloom_terms_hit(col("bloom"), tokens) >= minMatch)
          .as("keep"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val keep = snap.files.filter(fl => probed.getOrElse(fl, true))
    if (keep.size > PruneUselessFrac * snap.files.size) None
    else Some(Prune(keep, snap.files.size, snap.files.head))
  }

  /** Keep-fraction above which bloom pruning is declared useless for a
    * query and the caller should scan the full committed table instead.
    */
  val PruneUselessFrac: Double = 0.9
}
