package graft.alco

import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for the routed table — the maintenance op every
  * streaming ingest needs: the foreachBatch path commits a few files per
  * (tool_key, role, day) partition per micro-batch, and a day of 5-minute
  * triggers leaves ~300 small files per partition, which at 100 TB turns
  * every scan into a metadata-and-seek exercise. Compaction rewrites each
  * partition whose committed file count reaches `minFiles` into
  * `maxRecordsPerFile`-sized files (same zstd codec, same conv_id bloom
  * filters, same (conv_id, turn_idx) clustering the grep context window
  * relies on) and commits ONE new manifest snapshot swapping the file
  * lists — Iceberg's rewrite_data_files, rebuilt on this repo's manifest.
  *
  * Crash safety (same CoW discipline as the pipeline's merge path):
  * readers resolve through `Manifest.readCommitted`, which names the exact
  * committed file set — a crash BEFORE the commit leaves only uncommitted
  * staging/compact files (invisible; the next `Pipeline.run` orphan sweep
  * deletes them), a crash AFTER the commit leaves the superseded small
  * files as orphans (same sweep). The commit itself is one atomic
  * snapshot-file rename, CAS-guarded (hard-link creation) and with an
  * expected-parent check — a concurrent ingest commit makes the
  * compaction abort instead of silently dropping the other writer's
  * files. A row-count invariant guards the swap: the rewrite's observed
  * per-partition counts must equal a census of the source files' parquet
  * footers (driver-side metadata, no second data scan), or the
  * compaction aborts before commit.
  *
  * Scale: one read + ONE shuffle on the partition key (bin-packing must
  * co-locate each dir's rows or every input split re-emits its own small
  * file) + one write of the targeted partitions' data, plus O(#files)
  * driver-side metadata. Run it per-sink on whatever cadence the
  * small-file rate demands; ingest between compactions is safe because
  * both paths commit through the same serial manifest.
  */
object Compact {

  final case class Result(
      compactedPartitions: Seq[String],
      filesBefore: Int,
      filesAfter: Int)

  /** Compact every committed partition holding >= `minFiles` files.
    * No-op (and no new snapshot) when nothing qualifies.
    */
  def compact(spark: SparkSession, outRoot: String, minFiles: Int = 4,
              cfg: Pipeline.Config = Pipeline.Config()): Result = {
    require(minFiles >= 2, "minFiles < 2 would rewrite already-compact partitions")
    val routedPath = s"$outRoot/routed"
    val snapOpt = Manifest.latest(routedPath)
    if (snapOpt.isEmpty) return Result(Nil, 0, 0)
    val snap = snapOpt.get
    val byPart = snap.files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    val targets = byPart.filter(_._2.size >= minFiles)
    if (targets.isEmpty) return Result(Nil, snap.files.size, snap.files.size)
    val parts = targets.keys.toSeq.sorted

    val hconf = spark.sparkContext.hadoopConfiguration
    val tmp = s"$outRoot/_compact_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(hconf)
    fs.delete(tmpPath, true) // stale staging from a crashed compaction

    val targetFiles = parts.flatMap(targets).map(f => s"$routedPath/$f")
    def readTargets = TableRead(spark, targetFiles, Some(routedPath))

    // census for the row-count invariant from the source files' parquet
    // FOOTERS — driver-side metadata, no second data scan
    val before: Map[String, Long] = parts.map { p =>
      p -> targets(p).map(f => footerRowCount(hconf, s"$routedPath/$f")).sum
    }.toMap

    val obs = new Observation(s"compact_${snap.snapshotId}")
    // co-locate each partition dir's rows in one task (bin-packing needs
    // it — otherwise every input split re-emits its own small file); the
    // routed layout's within-task sort restores the (conv_id, turn_idx)
    // clustering
    TableWrite(readTargets
      .observe(obs, TableWrite.partitionCountMetric)
      .repartition(TableWrite.partitionColumns.map(col): _*),
      tmp, SaveMode.Overwrite, Some(cfg))
    val written = TableWrite.partitionCounts(obs)
    if (written != before) {
      fs.delete(tmpPath, true)
      throw new IllegalStateException(
        s"compaction row-count drift (written=$written vs committed=$before)" +
          " — aborting before commit; no snapshot was written")
    }

    // move outputs into the live partition dirs under compact-tagged names
    // (uncommitted until the snapshot below; a crash here leaves orphans)
    val moved = Pipeline.moveStaged(spark, tmp, routedPath, parts,
      s"compact-${snap.snapshotId}").flatMap { case (p, names) => names.map(n => s"$p/$n") }
    fs.delete(tmpPath, true)

    val kept = snap.files.filterNot(f =>
      targets.contains(f.substring(0, f.lastIndexOf('/'))))
    val newStats = before.toSeq.sortBy(_._1)
      .map { case (p, c) => Manifest.PartitionStat(p, c) }
    // writer-scoped batch key: "__compact" never collides with ingest
    // writers; batchId = the compacted snapshot id (unique per round).
    // expectedParentId: `kept ++ moved` was derived from `snap`, so if an
    // ingest committed in between, publishing would silently drop its
    // files — the commit aborts with CommitConflictException instead (the
    // compacted files become orphans the sweep removes; rerun to retry).
    val newSnap = Manifest.commit(routedPath, batchId = snap.snapshotId,
      newStats = newStats, files = kept ++ moved, wallMs = 0L,
      writerId = "__compact", expectedParentId = Some(snap.snapshotId))
    // the superseded small files are now orphans — sweep them (a crash
    // before this line just defers the sweep to the next run)
    Pipeline.cleanupOrphans(spark, routedPath, newSnap.files.toSet)
    Result(parts, snap.files.size, newSnap.files.size)
  }

  /** Total row count from a parquet file's footer (driver-side metadata —
    * block row counts, no data pages read).
    */
  private def footerRowCount(conf: org.apache.hadoop.conf.Configuration,
                             file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }
}
