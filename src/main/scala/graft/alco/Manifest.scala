package graft.alco

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Iceberg-semantics emulation (SURVEY.md §7.4): a per-sink `_manifest/`
  * directory of JSON snapshot files provides snapshot commits, batch-level
  * exactly-once idempotency, file-level lineage and resumability — without
  * the Iceberg runtime (no Iceberg jar in this sandbox; swap-in is a config
  * change).
  *
  * Commit protocol (crash-safe, Iceberg-style):
  *  1. data files are written first (plain appends / merge outputs);
  *  2. the snapshot JSON naming the exact committed FILE set is staged to a
  *     writer-unique `snapshot-<id>.<uuid>.tmp` and atomically hard-linked
  *     to `snapshot-<id>.json` — this link IS the commit point (and the
  *     CAS: link creation fails if the target exists);
  *  3. any data file on disk that no committed snapshot names is an ORPHAN
  *     (a crash between 1 and 2, or a superseded pre-merge file) and is
  *     deleted by the next run before it writes (Pipeline.cleanupOrphans) —
  *     so a crash in any window never yields duplicates or data loss.
  *
  * Readers resolve the table through `committedFiles`, so uncommitted or
  * orphaned files are never visible (snapshot isolation on the read path).
  *
  * Each snapshot carries the cumulative committed batch ids (idempotent
  * reruns short-circuit on batch id, never on partition — a genuinely new
  * batch landing in an already-committed day merges instead of being
  * dropped), the cumulative committed partition keys, the cumulative
  * committed file list, and per-partition row counts for the partitions the
  * snapshot touched.
  *
  * Driver-side metadata only — snapshots are O(#files committed), never
  * O(rows); at 10^12 rows with bounded partitions (tools × roles × days)
  * and maxRecordsPerFile-sized files this is exactly the metadata scale
  * Iceberg manifests carry.
  */
object Manifest {

  final case class PartitionStat(partition: String, rowCount: Long)
  /** `committedBatchKeys` entries are "writerId#batchId" — idempotency is
    * scoped by writer identity (a streaming query's checkpoint, a named
    * backfill job), exactly like Spark's own streaming sink commit logs:
    * a NEW writer restarting its batch numbering at 0 against an existing
    * table must not be silently discarded as "already committed" (ADVICE
    * r2, medium).
    */
  final case class Snapshot(
      snapshotId: Long,
      parentId: Long,
      batchId: Long,
      committedBatchKeys: Seq[String],
      committedPartitions: Seq[String],
      stats: Seq[PartitionStat],
      files: Seq[String],
      wallMs: Long)

  /** The scoped idempotency key for (writerId, batchId). */
  def batchKey(writerId: String, batchId: Long): String = s"$writerId#$batchId"

  private val mapper = new ObjectMapper()

  private def manifestDir(tableRoot: String): Path =
    Paths.get(tableRoot, "_manifest")

  def latest(tableRoot: String): Option[Snapshot] = {
    val dir = manifestDir(tableRoot)
    if (!Files.isDirectory(dir)) return None
    val snaps = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.matches("snapshot-\\d+\\.json"))
      .toSeq
    if (snaps.isEmpty) None
    else Try(read(snaps.maxBy(p =>
      p.getFileName.toString.stripPrefix("snapshot-").stripSuffix(".json").toLong)))
      .toOption
  }

  def committedPartitions(tableRoot: String): Set[String] =
    latest(tableRoot).map(_.committedPartitions.toSet).getOrElse(Set.empty)

  def committedBatchKeys(tableRoot: String): Set[String] =
    latest(tableRoot).map(_.committedBatchKeys.toSet).getOrElse(Set.empty)

  /** The exact committed data-file set (paths relative to the table root). */
  def committedFiles(tableRoot: String): Set[String] =
    latest(tableRoot).map(_.files.toSet).getOrElse(Set.empty)

  /** Snapshot-isolated read: exactly the committed file set is visible —
    * uncommitted appends, in-flight merge outputs and orphans are not
    * (Iceberg read-path semantics). Partition columns are recovered from
    * the file paths via `basePath`, so day/tool_key/role partition pruning
    * still applies. Returns None when no snapshot (or an empty one) exists.
    */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
                    tableRoot: String): Option[org.apache.spark.sql.DataFrame] =
    latest(tableRoot).filter(_.files.nonEmpty).map { s =>
      TableRead(spark, s.files.map(f => s"$tableRoot/$f"), Some(tableRoot))
    }

  /** Append a snapshot.
    *
    * @param newStats current row totals for the partitions this batch touched
    * @param files    the FULL committed file set after this commit (the
    *                 caller carries forward untouched partitions' files and
    *                 swaps in merge outputs for rewritten ones)
    */
  def commit(tableRoot: String, batchId: Long, newStats: Seq[PartitionStat],
             files: Seq[String], wallMs: Long,
             writerId: String = "",
             expectedParentId: Option[Long] = None): Snapshot = {
    val parent = latest(tableRoot)
    // optimistic concurrency for writers whose file list was DERIVED from
    // a snapshot (compaction: kept ++ moved): if the table advanced since,
    // committing would drop the interleaved writer's files — abort instead
    expectedParentId.foreach { exp =>
      val cur = parent.map(_.snapshotId).getOrElse(-1L)
      if (cur != exp)
        throw new CommitConflictException(
          s"table advanced to snapshot $cur while this writer planned " +
            s"against $exp — rebase and retry")
    }
    val id = parent.map(_.snapshotId + 1).getOrElse(0L)
    val committed =
      (parent.map(_.committedPartitions).getOrElse(Seq.empty) ++
        newStats.map(_.partition)).distinct
    val batches =
      (parent.map(_.committedBatchKeys).getOrElse(Seq.empty) :+
        batchKey(writerId, batchId)).distinct
    val snap = Snapshot(id, parent.map(_.snapshotId).getOrElse(-1L), batchId,
      batches, committed, newStats, files.distinct.sorted, wallMs)
    write(tableRoot, snap)
  }

  /** Snapshot whose committed partition set is replaced outright (retention/
    * expiry): unlike `commit`, the parent's set is NOT unioned in, and the
    * file set is pruned to the kept partitions.
    */
  def replaceCommitted(tableRoot: String, batchId: Long,
                       committed: Seq[String]): Snapshot = {
    val parent = latest(tableRoot)
    val id = parent.map(_.snapshotId + 1).getOrElse(0L)
    val keep = committed.distinct
    val keptFiles = parent.map(_.files.filter(f =>
      keep.exists(p => f.startsWith(p + "/")))).getOrElse(Nil)
    val snap = Snapshot(id, parent.map(_.snapshotId).getOrElse(-1L), batchId,
      parent.map(_.committedBatchKeys).getOrElse(Nil),
      keep,
      parent.map(_.stats.filter(st => keep.contains(st.partition)))
        .getOrElse(Nil),
      keptFiles,
      0L)
    write(tableRoot, snap)
  }

  /** Thrown when an optimistic commit loses the race: another writer
    * published a snapshot first. The losing writer must re-derive its file
    * list from the NEW snapshot and retry (its data files are orphans
    * until then — safe, the sweep ignores-or-deletes them).
    */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  private def write(tableRoot: String, snap: Snapshot): Snapshot = {
    val dir = manifestDir(tableRoot)
    Files.createDirectories(dir)
    // Stage to a WRITER-UNIQUE tmp name: two writers racing for the same
    // snapshot id on a shared tmp name would overwrite each other's bytes
    // between write() and createLink(), letting the link "winner" publish
    // the loser's (or a torn, mid-write) JSON while believing its own
    // snapshot committed (ADVICE r4, medium).
    val tmp = dir.resolve(
      s"snapshot-${snap.snapshotId}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, toJson(snap).getBytes(StandardCharsets.UTF_8))
    // CAS on the snapshot id: hard-link creation is atomic and FAILS if
    // the target exists, so two writers racing to publish id N cannot
    // both win (a plain rename() would silently replace). The loser sees
    // a CommitConflictException and must rebase on the winner's snapshot.
    try {
      Files.createLink(dir.resolve(s"snapshot-${snap.snapshotId}.json"), tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new CommitConflictException(
          s"snapshot-${snap.snapshotId} already published by another writer")
    }
    snap
  }

  private def toJson(s: Snapshot): String = {
    val root = mapper.createObjectNode()
    root.put("snapshot_id", s.snapshotId)
    root.put("parent_id", s.parentId)
    root.put("batch_id", s.batchId)
    root.put("wall_ms", s.wallMs)
    val batches = root.putArray("committed_batch_keys")
    s.committedBatchKeys.foreach(batches.add)
    val parts = root.putArray("committed_partitions")
    s.committedPartitions.foreach(parts.add)
    val stats = root.putArray("stats")
    s.stats.foreach { st =>
      val o = stats.addObject()
      o.put("partition", st.partition)
      o.put("row_count", st.rowCount)
    }
    val files = root.putArray("files")
    s.files.foreach(files.add)
    root.toPrettyString
  }

  private def read(p: Path): Snapshot = {
    val root = mapper.readTree(Files.readAllBytes(p)).asInstanceOf[ObjectNode]
    def arr(name: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
      Option(root.get(name)).map(_.asInstanceOf[ArrayNode].asScala.toSeq)
        .getOrElse(Seq.empty)
    // Pre-rename snapshots (≤ round 2) carried unscoped batch ids under
    // `committed_batch_ids`; without this fallback every previously
    // committed batch would lose its idempotency marker and a redelivery
    // would REPROCESS instead of no-op (ADVICE r3, low). The default
    // writerId was "" back then, so the scoped key is reconstructible.
    val batchKeys = Option(root.get("committed_batch_keys")) match {
      case Some(_) => arr("committed_batch_keys").map(_.asText())
      case None => arr("committed_batch_ids").map(n => batchKey("", n.asLong()))
    }
    Snapshot(
      root.get("snapshot_id").asLong(),
      root.get("parent_id").asLong(),
      root.get("batch_id").asLong(),
      batchKeys,
      arr("committed_partitions").map(_.asText()),
      arr("stats").map(n => PartitionStat(
        n.get("partition").asText(), n.get("row_count").asLong())),
      arr("files").map(_.asText()),
      root.get("wall_ms").asLong())
  }
}
