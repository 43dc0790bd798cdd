package graft.alco

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException, attribute}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.functions.KeyedRollup
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** The one write path: every table the engine writes — the routed fan-out,
  * the copy-on-write merge, the per-batch rollup/distinct/audit outputs,
  * compaction, the term-index versions and the streaming rollup versions —
  * goes through `apply`.
  *
  * Every write runs on [[LocalFs]] for `file:` paths. The two Hadoop options
  * travel as writer options, so they reach only that write job's Hadoop conf
  * and leave the caller's session untouched; `disable.cache` is what makes
  * `FileSystem.get` build a `LocalFs` instead of handing back the cached
  * default. Other schemes ignore both options.
  */
object TableWrite {

  /** Directory partitioning of the routed table (`tool_key=…/role=…/day=…`). */
  val partitionColumns: Seq[String] = Seq("tool_key", "role", "day")

  private val fsOptions = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  // zstd: encode speed ≈ lz4_raw on this profile (warmed A/B, BASELINE.md
  // round-4 table) with ~30% smaller files than snappy/lz4 (75.6 vs
  // 105.8 MB per 4M rows) — at the 100 TB design point the storage +
  // downstream-scan savings dominate everything.
  private val ParquetCodec = "zstd"

  // Right-size the conv_id bloom filter: without an NDV hint parquet's
  // AdaptiveBlockSplitBloomFilter keeps several candidate bitsets alive
  // per open row group until it learns the cardinality — expensive with
  // 32 concurrent dynamic-partition writers. ~50 turns/conv ⇒ ~100k
  // distinct conv_ids per 2M-row file is the right order.
  private val BloomNdv = 100000L

  /** Write `df` as parquet at `path`.
    *
    * @param routed the routed-table layout: rows sorted by sink key then
    *               (conv_id, turn_idx) inside each task (the dynamic-partition
    *               writer keeps one open file at a time, the grep context view
    *               relies on the clustering), partitioned by
    *               `partitionColumns`, at most `maxRecordsPerFile` rows per
    *               file, zstd and a conv_id bloom filter
    *               (point lookups skip row groups without dictionary pages).
    *               None writes `df` as it is, with the session's defaults.
    */
  def apply(df: DataFrame, path: String, mode: SaveMode,
            routed: Option[Pipeline.Config] = None): Unit = {
    val writer = routed match {
      case None => df.write
      case Some(cfg) =>
        df.sortWithinPartitions((partitionColumns :+ "conv_id" :+ "turn_idx")
            .map(col): _*)
          .write
          .option("maxRecordsPerFile", cfg.maxRecordsPerFile)
          .option("compression", ParquetCodec)
          .option("parquet.bloom.filter.enabled#conv_id", "true")
          .option("parquet.bloom.filter.expected.ndv#conv_id", BloomNdv.toString)
          .partitionBy(partitionColumns: _*)
    }
    writer.mode(mode).options(fsOptions).parquet(path)
  }

  /** Separator of the partition-count key (never occurs in tool, role or day). */
  private val KeySep = "\u0001"

  /** The partition directory, relative to the table root, that the writer
    * creates for these values — escaped exactly as Spark escapes them
    * (`mcp:search` → `tool_key=mcp%3Asearch`), so manifest names, merge
    * counts and compaction censuses all name the directory on disk.
    */
  def partitionDir(toolKey: String, role: String, day: String): String =
    partitionColumns.zip(Seq(toolKey, role, day))
      .map { case (c, v) => ExternalCatalogUtils.getPartitionPathString(c, v) }
      .mkString("/")

  /** Row count per partition directory of a routed-table read: attach with
    * `observe(obs, partitionCountMetric)`, read with `partitionCounts(obs)`.
    * Keys are escaped on the driver, once per partition, not per row.
    */
  def partitionCountMetric: Column = KeyedRollup.keyed_rollup(
    concat_ws(KeySep, col("tool_key"), col("role"), col("day").cast("string")),
    array().cast("array<string>")).as("partition_counts")

  def partitionCounts(obs: Observation): Map[String, Long] =
    Try(obs.get).toOption.flatMap(_.get("partition_counts"))
      .map(j => KeyedRollup.parse(j.asInstanceOf[String]).map { e =>
        val Array(toolKey, role, day) = e.key.split(KeySep, -1)
        partitionDir(toolKey, role, day) -> e.n
      }.toMap)
      .getOrElse(Map.empty)
}

/** `file:` filesystem of the write path: Hadoop's checksummed
  * `LocalFileSystem` (`.crc` sidecars kept) over a raw filesystem whose
  * `setPermission` calls `Files.setPosixFilePermissions`. Without libhadoop,
  * Hadoop's own `RawLocalFileSystem.setPermission` forks a `chmod` process
  * for every created file, its `.crc` sidecar and every new task or
  * partition directory: about 4.4 processes per written parquet file.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    /** Same mode bits as the forked `chmod`. A permission with bits beyond
      * rwx (the sticky bit; `FsPermission` carries no setuid/setgid) goes to
      * the parent, since `PosixFilePermission` cannot express them.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }
  }

  /** rwxrwxrwx bits → the matching set; `PosixFilePermission.values` runs
    * from OWNER_READ (0400) down to OTHERS_EXECUTE (0001).
    */
  private def posix(mode: Int): java.util.Set[attribute.PosixFilePermission] =
    attribute.PosixFilePermission.values.toSeq.zipWithIndex
      .collect { case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }
      .toSet.asJava
}
