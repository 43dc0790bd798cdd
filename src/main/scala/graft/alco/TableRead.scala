package graft.alco

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one read path, the twin of [[TableWrite]]: every parquet table the
  * engine reads — the committed snapshot, the pruned grep scan, the merge
  * and compaction inputs, the term-index versions, the registered sinks,
  * the streaming rollup versions and the query tables — goes through `apply`.
  *
  * `spark.read.parquet` without a schema starts a Spark job to read one
  * footer (`ParquetUtils.inferSchema`). `apply` reads that same footer on
  * the driver and hands the schema to `spark.read.schema`, so building the
  * DataFrame starts no job for it. Partition columns are still discovered
  * from the paths, with the same inferred types. (Spark still lists more
  * than `spark.sql.sources.parallelPartitionDiscovery.threshold` paths,
  * 32 by default, in a job of its own.)
  */
object TableRead {

  /** Read the parquet files under `paths` (files or directories).
    *
    * @param basePath root the partition columns are discovered below,
    *                 as Spark's `basePath` option
    */
  def apply(spark: SparkSession, paths: Seq[String],
            basePath: Option[String] = None): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    footerSchema(spark, paths) match {
      case Some(schema) => reader.schema(schema).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }

  /** The data schema Spark's inference returns with `mergeSchema` off: the
    * footer of the lexicographically smallest data file, converted by
    * Spark's own converter (column order, types and `timestamp_ntz`
    * included). None when some path does not exist as named (a glob, a
    * missing table) or holds no data file: `spark.read.parquet` then
    * resolves it and raises its own error. Summary files (`_metadata`),
    * which inference would prefer, are never written by the engine.
    */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val roots = paths.map { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      try Some(fs -> fs.getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    }
    if (roots.contains(None)) None
    else roots.flatten
      .flatMap { case (fs, st) => leaves(fs, st) }
      .filterNot(f => hidden(f.getPath.getName))
      .minByOption(_.getPath.toString)
      .map { f =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** Files at or below `st`, skipping hidden directories as the file index does. */
  private def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isFile) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => c.isDirectory && hidden(c.getPath.getName))
      .flatMap(leaves(fs, _))

  /** Spark's file-index filter: `_`-names (partition dirs like `_c=1` are
    * kept), dot-names and in-flight `._COPYING_` copies are not data.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
