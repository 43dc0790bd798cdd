package graft.alco

import java.time.{Instant, ZoneOffset}
import java.util.concurrent.{CompletionException, Executors}

import scala.util.Try

import graft.functions.KeyedRollup
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** End-to-end wiring of alco's collect → parse → store → aggregate loop
  * (SURVEY.md §3 E1):
  *
  *   read → Parse.classify (grok dispatch, codegen) → quarantine split →
  *   REPLACE dedup (ONE hash shuffle) → Parse.extract + Enrich (broadcast
  *   joins) → partitioned fan-out write (tool_key/role/day) with rollup +
  *   distinct + lineage stats riding the write via observe() →
  *   copy-on-write merge of partitions that overlap earlier commits ∥
  *   rollup-count + distinct-set writes (a side thread) → manifest commit
  *   (atomic rename = commit point) → audit rows.
  *
  * Scale design (10^12 turns):
  *  - ONE data shuffle total on the hot path. The REPLACE dedup's hash
  *    aggregation on (conv_id, turn_idx) both deduplicates AND spreads hot
  *    conversations uniformly (the near-unique key is its own salt); the
  *    dynamic-partition writer sorts each task's rows and streams one open
  *    file per sink dir.
  *  - ZERO post-write jobs on the fresh-partition path. Rollup counts,
  *    distinct-value sets and per-partition lineage all ride the write pass
  *    as a single KeyedRollup observe() metric (bounded cardinality:
  *    tools × roles × days) — the round-1 read-back aggregation job was a
  *    non-scaling ~3.5 s tail on every batch.
  *  - Exactly-once without a table format: idempotency is BATCH-scoped
  *    (a committed batchId short-circuits before any job), the manifest
  *    names the exact committed file set, orphans from any crash window are
  *    deleted before the next write, and readers resolve through the
  *    manifest — so no crash point duplicates, loses, or exposes rows.
  *  - REPLACE across batches: a new batch whose rows land in an
  *    already-committed partition is NOT dropped (the round-1 partition
  *    anti-join silently discarded it); those partitions are re-read,
  *    REPLACE-deduped against the new rows, rewritten to fresh files and
  *    swapped in at commit (Iceberg-style copy-on-write, scoped to the
  *    overlapping partitions only — the fresh-partition fast path never
  *    pays for it). A key whose day/role/tool changed between batches
  *    keeps both rows (same divergence as alco's per-day Sphinx shards).
  */
object Pipeline {

  /** Separator for the write-pass rollup key (never occurs in tool/role). */
  private val KeySep = "\u0001"

  final case class Config(
      maxRecordsPerFile: Long = 2L * 1000 * 1000,
      columnRoles: Seq[ColumnRole] = defaultRoles) {
    /** alco LoggerColumn.filtered analog → distinct-value rollup columns. */
    def distinctColumns: Seq[String] =
      columnRoles.filter(_.filtered).map(_.name).filter(writeColumns.contains)
    /** Columns physically stored (LoggerColumn.excluded drops them). Key,
      * partition and ordering columns are never excludable.
      */
    def writeColumns: Seq[String] = {
      val protectedCols = Set("conv_id", "turn_idx", "role", "tool", "day", "ts", "seq")
      val excluded = columnRoles.filter(_.excluded).map(_.name).toSet -- protectedCols
      routedColumns.filterNot(excluded.contains)
    }
  }

  /** Column roles for the routed transcripts table (alco LoggerColumn, D3):
    * `filtered` columns get distinct-value rollups, `context` drives the
    * grep context-window grouping, `display` the grep projection.
    */
  val defaultRoles: Seq[ColumnRole] = Seq(
    ColumnRole("conv_id", context = true),
    ColumnRole("turn_idx"),
    ColumnRole("role", filtered = true),
    ColumnRole("tool"),
    ColumnRole("day"),
    ColumnRole("ts"),
    ColumnRole("text"),
    ColumnRole("called_tool", filtered = true),
    ColumnRole("dur_ms", display = false),
    ColumnRole("status", filtered = true),
    ColumnRole("bytes", display = false),
    ColumnRole("attrs"),
    ColumnRole("seq", display = false))

  final case class Result(
      batchId: Long,
      snapshotId: Long,
      inputRows: Long,
      routedRows: Long,
      quarantinedRows: Long,
      skippedCommitted: Long,
      mergedPartitions: Long,
      stageTimings: Map[String, Long])

  /** Columns of the routed (stored) rows — FIXTURES.md §4. */
  val routedColumns: Seq[String] = Seq(
    "conv_id", "turn_idx", "role", "tool", "day", "ts", "text",
    "called_tool", "dur_ms", "status", "bytes", "attrs", "seq")

  /** One rollup contribution parsed back from the write-pass metric. */
  private final case class Contrib(tool: String, role: String,
      windowStartSec: Long, n: Long, sets: Seq[Set[String]]) {
    def day: String = Instant.ofEpochSecond(windowStartSec)
      .atZone(ZoneOffset.UTC).toLocalDate.toString
    def partition: String =
      TableWrite.partitionDir(SinkKey.sanitize(tool), role, day)
  }

  /** @param writerId scopes batch-level idempotency (manifest batch keys are
    *                  "writerId#batchId"): two writers — e.g. a restarted
    *                  streaming query with a fresh checkpoint, or a named
    *                  backfill — can reuse batch numbering against the same
    *                  table without one's batches masking the other's.
    */
  def run(spark: SparkSession, turns: DataFrame, outRoot: String,
          cfg: Config = Config(), batchId: Long = 0L,
          writerId: String = ""): Result = {
    val t0 = System.nanoTime()
    def ms(since: Long): Long = (System.nanoTime() - since) / 1000000L
    // day-partition keys, 1-day rollup windows and manifest stat days must
    // all align — they are only comparable in UTC (ADVICE r1).
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Pipeline requires spark.sql.session.timeZone=UTC")

    val routedPath = s"$outRoot/routed"
    val prior = Manifest.latest(routedPath)

    // Idempotent rerun: this writer's batch already committed → no-op before
    // any job (alco's REPLACE-INTO redelivery idempotency, at batch
    // granularity, scoped by writer identity).
    if (prior.exists(_.committedBatchKeys.contains(Manifest.batchKey(writerId, batchId))))
      return Result(batchId, prior.get.snapshotId, 0L, 0L, 0L,
        skippedCommitted = prior.get.committedPartitions.size.toLong,
        mergedPartitions = 0L, stageTimings = Map("total_ms" -> ms(t0)))

    // Close the crash window: any data file the committed snapshot does not
    // name is an orphan (crash between write and commit, or a superseded
    // pre-merge file) — delete it so re-appends can never duplicate rows.
    val committedFileSet = prior.map(_.files.toSet).getOrElse(Set.empty)
    cleanupOrphans(spark, routedPath, committedFileSet)

    // Classify (cheap: one match per pattern) BEFORE the dedup shuffle —
    // alco parses before storing, so a malformed duplicate never replaces a
    // valid row. classify also quarantines rows with null/empty role or null
    // ts (ADVICE r3: they would partition to __HIVE_DEFAULT_PARTITION__
    // while the manifest names the coalesced key, and orphan cleanup would
    // delete their committed files). Field extraction + enrich joins run
    // AFTER dedup: the match structs are dropped here so the shuffle carries
    // only flat narrow columns, and the per-row regex-group/enrich work
    // happens once per SURVIVING row.
    val obs = new Observation(s"pipeline_batch_$batchId")
    val classified = Parse.classify(turns).observe(obs,
      count(lit(1)).as("input_rows"),
      count(when(col("pattern_id") === 0, 1)).as("quarantined_rows"))
    val (ok, quarantine) = Parse.splitQuarantine(classified)
    val deduped = Route.replaceSemantics(
      Route.stage(ok.drop(Parse.matchCols: _*)))
    // No Enrich.stage here (r6, guide §1.2 "don't compute what you throw
    // away"): the write projection below keeps only `writeColumns`, and no
    // enrich output (role_group/tool_family/is_*/enrich_missing) is in it —
    // Catalyst cannot eliminate a left outer join it can't prove unique, so
    // the two broadcast probes ran per row for columns provably dropped.
    // Measured (round-6 A/B, 2M rows, 4 interleaved pairs): the
    // enrich-free chain is stable at 4.5-4.6 s while the enriched one
    // swings 4.7-9.9 s in the same windows. The enrich operator itself
    // (O16) stays on the query surface (q07/q31/q33/q34, entry()), where
    // its output is actually consumed.
    val routed0 = Parse.extract(deduped) // seq survives dedup

    // Directory partitioning cannot represent the empty-string tool (it
    // round-trips as null), so the partition key is a sanitized `tool_key`
    // while `tool` stays a data column — alco's LoggerIndex-name analog.
    // NULL maps with empty (SinkKey.sanitize semantics): a null tool
    // otherwise partitions to __HIVE_DEFAULT_PARTITION__ while the manifest
    // keys say _none, and orphan cleanup would delete its committed files.
    val keyed = routed0.withColumn("tool_key",
      when(col("tool").isNull || col("tool") === "", lit("_none"))
        .otherwise(col("tool")))

    val setupMs = ms(t0) // manifest read + orphan sweep + plan build

    // Rollup counts + distinct sets + lineage ride the write: one KeyedRollup
    // metric keyed by (tool, role, UTC day) with the filtered columns' values
    // as the distinct slots. No second pass over the data, ever.
    val distinctCols = cfg.distinctColumns
    val rollObs = new Observation(s"rollup_batch_$batchId")
    // The key/values are materialized as columns BEFORE the observe so the
    // concat/date_trunc/cast work runs codegen'd inside the projection; the
    // accumulator's per-row interpreted eval then only reads two attributes.
    // The drop() after observe keeps them out of the written files.
    // coalesce: concat_ws SKIPS nulls, which would silently drop a field
    // from the key and crash the 3-way split at parse-back time.
    val statsKey = concat_ws(KeySep, coalesce(col("tool"), lit("")),
      coalesce(col("role"), lit("")),
      unix_timestamp(date_trunc("DAY", col("ts"))).cast("string"))
    val distinctArr = array(distinctCols.map(c => col(c).cast("string")): _*)

    // Fan-out write straight off the dedup shuffle, in the routed layout.
    val tWrite = System.nanoTime()
    TableWrite(keyed
      .select(cfg.writeColumns.map(col) ++ Seq(col("tool_key"),
        statsKey.as("__stats_key"), distinctArr.as("__distinct_vals")): _*)
      .observe(rollObs, KeyedRollup.keyed_rollup(
        col("__stats_key"), col("__distinct_vals")).as("rollup"))
      .drop("__stats_key", "__distinct_vals"),
      routedPath, SaveMode.Append, Some(cfg))
    val writeMs = ms(tWrite)

    val tAgg = System.nanoTime()
    val contribs: Seq[Contrib] = Try(rollObs.get).toOption
      .flatMap(_.get("rollup"))
      .map(j => KeyedRollup.parse(j.asInstanceOf[String]).map { e =>
        val Array(tool, role, sec) = e.key.split(KeySep, -1)
        Contrib(tool, role, sec.toLong, e.n, e.sets)
      })
      .getOrElse(Seq.empty)

    // Committed-file derivation depends entirely on the write-pass metric.
    // If the write produced files but the metric channel came back empty
    // (a lost/unparsable observation), committing would name NONE of the
    // just-written files and the next run's orphan cleanup would silently
    // delete the batch's data. Failing here is safe: nothing is committed
    // yet, so the written files are orphans a rerun cleans and re-processes
    // (exactly-once preserved). (ADVICE r2, medium.)
    if (contribs.isEmpty &&
        listPartitionFiles(spark, routedPath).exists(!committedFileSet.contains(_)))
      throw new IllegalStateException(
        s"batch $batchId: write produced data files but the rollup " +
          "observation is empty — aborting before commit to avoid orphaning " +
          "the batch's data")

    // REPLACE across batches: rewrite partitions that already had committed
    // rows (bounded to the overlap — zero extra work on the fresh path).
    val touched = contribs.map(_.partition).distinct
    val committedParts = prior.map(_.committedPartitions.toSet).getOrElse(Set.empty)
    val overlap = touched.filter(committedParts.contains)

    // The rollup counts and distinct sets depend only on `contribs`: they are
    // written beside the merge and joined before the commit point, so a
    // failed output write aborts the batch and a committed batch always has
    // both (they overwrite the batch's own dirs, so a rerun rewrites them).
    val (files, stats) = alongside(spark)(
        writeBatchOutputs(spark, outRoot, batchId, contribs, distinctCols)) {
      val (mergedCounts, mergedFiles) =
        if (overlap.isEmpty) (Map.empty[String, Long], Map.empty[String, Seq[String]])
        else mergeOverlapping(spark, routedPath, s"$outRoot/_merge_tmp",
          overlap, batchId, cfg)

      // Committed file set after this batch: carry forward untouched
      // partitions, take the merge outputs for rewritten ones, and everything
      // on disk for fresh ones (orphans were cleaned, so all files there are
      // this batch's).
      val overlapSet = overlap.toSet
      val touchedSet = touched.toSet
      val carried = committedFileSet.filterNot(f =>
        touchedSet.contains(f.substring(0, f.lastIndexOf('/')))).toSeq
      val written = touched.flatMap { p =>
        if (overlapSet.contains(p)) mergedFiles(p).map(n => s"$p/$n")
        else listFiles(spark, s"$routedPath/$p").map(n => s"$p/$n")
      }
      (carried ++ written, touched.map { p =>
        val contributed = contribs.filter(_.partition == p).map(_.n).sum
        Manifest.PartitionStat(p, mergedCounts.getOrElse(p, contributed))
      })
    }
    val routedRows = contribs.map(_.n).sum
    val aggMs = ms(tAgg) // metric parse + overlap merge ∥ batch outputs

    // observe() metrics ride the write pass for free; a degenerate zero-task
    // plan falls back to counting.
    val metrics = Try(obs.get).toOption.filter(_.nonEmpty)
    val quarantined = metrics.map(_("quarantined_rows").asInstanceOf[Long])
      .getOrElse(quarantine.count())
    val inputRows = metrics.map(_("input_rows").asInstanceOf[Long])
      .getOrElse(turns.count())

    // COMMIT POINT: atomic manifest rename. Crash before → this batch's
    // files are orphans, cleaned next run, and the rerun rewrites its
    // rollup/distinct dirs. Crash after → batch is committed with both,
    // rerun short-circuits on batchId.
    val tCommit = System.nanoTime()
    // expectedParentId: `carried` was derived from `prior` — if another
    // writer (a concurrent compaction) advanced the table since, publishing
    // would resurrect its swept files and drop its outputs; abort with
    // CommitConflictException instead (this batch's files become orphans
    // the rerun cleans, then the rerun replans against the new snapshot).
    val snap = Manifest.commit(routedPath, batchId, stats,
      files, ms(t0), writerId,
      expectedParentId = Some(prior.map(_.snapshotId).getOrElse(-1L)))

    // Vacuum superseded files of merged partitions (post-commit; a crash
    // here just leaves orphans for the next run's cleanup).
    if (overlap.nonEmpty)
      cleanupOrphans(spark, routedPath, snap.files.toSet)
    val commitMs = ms(tCommit)

    // The audit rows name the committed snapshot, so they follow the commit;
    // one file per batch whatever the core count.
    val tOutputs = System.nanoTime()
    import spark.implicits._
    val audit = contribs.map(c =>
      (snap.snapshotId, batchId, c.partition, c.n, ms(t0)))
      .toDF("snapshot_id", "batch_id", "partition", "row_count", "wall_ms")
    TableWrite(audit.coalesce(1), s"$outRoot/audit", SaveMode.Append)
    val outputsMs = ms(tOutputs)

    Result(batchId, snap.snapshotId, inputRows, routedRows, quarantined,
      skippedCommitted = committedParts.size.toLong,
      mergedPartitions = overlap.size.toLong,
      // per-stage wall clocks, published per bench leg so a degraded run is
      // attributable: setup = manifest+orphan sweep (driver metadata),
      // write = THE data job (read→classify→dedup→extract→fan-out write),
      // agg = metric parse + overlap merge and file-set derivation, with the
      // rollup/distinct writes running beside them and joined at its end,
      // commit = snapshot rename + vacuum (driver fs), outputs = the audit
      // append (one tiny driver-local job).
      stageTimings = Map("setup_ms" -> setupMs, "write_ms" -> writeMs,
        "agg_ms" -> aggMs, "commit_ms" -> commitMs,
        "outputs_ms" -> outputsMs, "total_ms" -> ms(t0)))
  }

  /** Per-batch rollup + distinct-set tables (alco's Redis counters/SADD
    * caches) — driver-local rows, bounded cardinality, two tiny writes.
    * Each overwrites its batch's own dir, so rewriting them is idempotent.
    */
  private def writeBatchOutputs(spark: SparkSession, outRoot: String,
      batchId: Long, contribs: Seq[Contrib], distinctCols: Seq[String]): Unit = {
    import spark.implicits._
    TableWrite(contribs.map { c =>
      val start = java.sql.Timestamp.from(Instant.ofEpochSecond(c.windowStartSec))
      val end = java.sql.Timestamp.from(Instant.ofEpochSecond(c.windowStartSec + 86400L))
      (c.tool, c.role, start, end, c.n)
    }.toDF("tool", "role", "window_start", "window_end", "n").coalesce(1),
      s"$outRoot/rollup_counts_batch_$batchId", SaveMode.Overwrite)

    val distinctRows = contribs.flatMap { c =>
      val sink = s"${c.tool}/${c.role}"
      distinctCols.zipWithIndex.map { case (dc, i) =>
        ((sink, dc), c.sets.lift(i).getOrElse(Set.empty))
      }
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
      .toSeq.collect { case ((sink, c), vs) if vs.nonEmpty => (sink, c, vs.toSeq.sorted) }
    TableWrite(distinctRows.toDF("sink_key", "column", "values").coalesce(1),
      s"$outRoot/distinct_sets_batch_$batchId", SaveMode.Overwrite)
  }

  /** Daemon threads for the writes `alongside` runs off the calling thread. */
  private lazy val sideThreads = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "pipeline-batch-outputs")
    t.setDaemon(true)
    t
  }

  /** Runs `side` on another thread while `main` runs on this one, and
    * returns `main`'s result once both have finished — also when either
    * throws, so nothing `side` started outlives the call. The side thread
    * carries this thread's active session and Spark local properties (job
    * group, description, tags), as Spark's broadcast builds do, so
    * cancelling the caller's job group cancels its jobs too. A failure of
    * `main` wins; one of `side` alone is rethrown after `main` returns.
    */
  private def alongside[A](spark: SparkSession)(side: => Unit)(main: => A): A = {
    val pending = SQLExecution.withThreadLocalCaptured(castToImpl(spark), sideThreads)(side)
    def await(): Unit =
      try pending.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }
    val result =
      try main
      catch { case e: Throwable =>
        try await() catch { case s: Throwable => e.addSuppressed(s) }
        throw e
      }
    await()
    result
  }

  /** Copy-on-write rewrite of partitions receiving rows on top of committed
    * data: read (committed ∪ just-appended) files of those partitions,
    * REPLACE-dedup, write fresh files to a staging dir, move them in under
    * merge-tagged names. Old files are superseded and become orphans once
    * the commit snapshot stops naming them.
    *
    * @return (rows per partition after merge, merge file names per partition)
    */
  private def mergeOverlapping(spark: SparkSession, routedPath: String,
      mergeTmp: String, parts: Seq[String], batchId: Long,
      cfg: Config): (Map[String, Long], Map[String, Seq[String]]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmpPath = new org.apache.hadoop.fs.Path(mergeTmp)
    val fs = tmpPath.getFileSystem(hconf)
    fs.delete(tmpPath, true) // stale staging from a crashed merge

    val df = TableRead(spark, parts.map(p => s"$routedPath/$p"), Some(routedPath))
    val mObs = new Observation(s"merge_batch_$batchId")
    TableWrite(Route.replaceSemantics(df)
      .observe(mObs, TableWrite.partitionCountMetric),
      mergeTmp, SaveMode.Overwrite, Some(cfg))
    val counts = TableWrite.partitionCounts(mObs)
    val moved = moveStaged(spark, mergeTmp, routedPath, parts, s"merge-$batchId").toMap
    fs.delete(tmpPath, true)
    (counts, moved)
  }

  /** Move a staged rewrite's files (`staging/<partition>/<name>`) into the
    * live partition dirs as `<tag>-<name>`, uncommitted until the caller's
    * snapshot names them (driver-side, O(#files moved)). fs.rename reports
    * failure by RETURNING false (dest exists, transient object-store error):
    * that aborts here, before the caller deletes the staging dir — or the
    * snapshot would name a missing file and the only copy of its rows would
    * be gone.
    *
    * @return the new file names per partition, in `parts` order
    */
  private[alco] def moveStaged(spark: SparkSession, staging: String,
      routedPath: String, parts: Seq[String],
      tag: String): Seq[(String, Seq[String])] = {
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    parts.map { p =>
      p -> listFiles(spark, s"$staging/$p").map { name =>
        val dest = s"$tag-$name"
        if (!fs.rename(new org.apache.hadoop.fs.Path(s"$staging/$p/$name"),
            new org.apache.hadoop.fs.Path(s"$routedPath/$p/$dest")))
          throw new IllegalStateException(
            s"rename failed for $p/$dest — aborting before commit " +
              "(staging retained; moved files are uncommitted orphans)")
        dest
      }
    }
  }

  /** Non-hidden data files directly under `dir` (driver-side metadata). */
  private[alco] def listFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
  }

  /** All data files in partition dirs, as paths relative to `root`
    * (driver-side metadata, O(#files)).
    */
  private[alco] def listPartitionFiles(spark: SparkSession, root: String): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    val glob = new org.apache.hadoop.fs.Path(root, "tool_key=*/role=*/day=*/*")
    Option(fs.globStatus(glob)).getOrElse(Array.empty).toSeq
      .filter(_.isFile)
      .map(_.getPath)
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => s"${f.getParent.getParent.getParent.getName}/" +
        s"${f.getParent.getParent.getName}/${f.getParent.getName}/${f.getName}")
  }

  /** Delete every data file under the table that the committed snapshot does
    * not name (plus writer staging leftovers). O(#files) driver-side
    * metadata work — the same scale Iceberg's orphan-file cleanup pays.
    */
  private[alco] def cleanupOrphans(spark: SparkSession, root: String,
      committed: Set[String]): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return
    fs.delete(new org.apache.hadoop.fs.Path(root, "_temporary"), true)
    listPartitionFiles(spark, root)
      .filterNot(committed.contains)
      .foreach(rel => fs.delete(new org.apache.hadoop.fs.Path(root, rel), false))
  }
}
