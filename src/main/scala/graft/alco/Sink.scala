package graft.alco

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Sink registry + table lifecycle (SURVEY.md O5, §3 E3).
  *
  * Reference analog: alco's LoggerIndex admin rows → generated sphinx.conf
  * RT-index stanzas (one per index × day shard) + a cron that rotates shards
  * older than `intervals` days [PK alco/collector/models.py::LoggerIndex
  * .intervals, management commands]. Rebuilt as driver-side metadata ops:
  * the "DDL" is a partition-spec'd directory + empty manifest, and
  * retention drops expired day partitions manifest-first.
  */
object Sink {

  final case class SinkSpec(
      name: String,
      schema: StructType,
      partitionColumns: Seq[String] = Seq("tool_key", "role", "day"),
      retentionDays: Int = 30) // alco LoggerIndex.intervals analog

  /** The default registry: one routed-transcripts sink. Config-driven, like
    * alco's admin-configured LoggerIndex set — adding a sink is a list entry,
    * not code.
    */
  val registry: Seq[SinkSpec] = Seq(
    SinkSpec("routed", Model.turnSchema))

  /** Idempotent CREATE TABLE equivalent: partitioned dir + empty manifest. */
  def ensureTable(root: String, spec: SinkSpec): String = {
    val path = s"$root/${spec.name}"
    Files.createDirectories(Paths.get(path, "_manifest"))
    path
  }

  /** Retention (alco's daily shard rotation): delete day partitions older
    * than `cutoffDay` and commit a snapshot whose committed set no longer
    * contains them — so a later re-ingest of old data is NOT blocked by
    * stale commit entries, and readers never see half-deleted partitions
    * (manifest first, data dirs second).
    *
    * Driver-side O(#partitions) metadata work; the data deletion is
    * per-directory (no file-by-file listing of row data).
    */
  def expireDayPartitions(tableRoot: String, cutoffDay: String,
                          batchId: Long): Seq[String] = {
    val committed = Manifest.committedPartitions(tableRoot)
    val dayOf = "day=(.+)$".r.unanchored
    val (expired, kept) = committed.toSeq.partition {
      case dayOf(d) => d < cutoffDay
      case _ => false
    }
    if (expired.isEmpty) return Nil
    // new snapshot: keep-set only (stats carry the kept partitions forward)
    Manifest.replaceCommitted(tableRoot, batchId, kept)
    expired.foreach { p =>
      val dir = Paths.get(tableRoot, p.split('/').toIndexedSeq: _*)
      if (Files.isDirectory(dir)) {
        Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    }
    // prune now-empty parent dirs (tool_key=/role= levels)
    expired.flatMap(p => p.split('/').inits.toSeq.drop(1).filter(_.nonEmpty))
      .distinct.sortBy(-_.length)
      .foreach { segs =>
        val dir = Paths.get(tableRoot, segs.toIndexedSeq: _*)
        if (Files.isDirectory(dir) && !Files.list(dir).iterator().hasNext)
          Files.deleteIfExists(dir)
      }
    expired
  }

  /** Registered-table read with mandatory partition-prune-friendly layout. */
  def read(spark: SparkSession, root: String, name: String) =
    TableRead(spark, Seq(s"$root/$name"))
}
