package graft.alco

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** `TableRead` returns what `spark.read.parquet` returns — schema, partition
  * column types and rows — for every input shape the engine reads, and
  * building its DataFrame (or any engine read routed through it) starts no
  * Spark job.
  */
class TableReadSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** A routed table of three days with an escaped partition (`mcp:search`),
    * merged partitions and a term index.
    */
  private lazy val out = {
    val d = tmpDir("tableread")
    val turns = Gen.turns(spark, 4000L).toDF().withColumn("tool",
      when(col("tool") === "bash", lit("mcp:search")).otherwise(col("tool")))
    def before(day: Int) = col("ts") < lit(s"2025-01-0$day 00:00:00").cast("timestamp")
    Pipeline.run(spark, turns.filter(before(3)), d, batchId = 0L)
    Pipeline.run(spark, turns.filter(before(4)), d, batchId = 1L)
    TermIndex.build(spark, d)
    d
  }
  private lazy val routed = s"$out/routed"
  private lazy val snap = Manifest.latest(routed).get

  private def inferred(paths: Seq[String], basePath: Option[String] = None): DataFrame =
    basePath.foldLeft(spark.read)(_.option("basePath", _)).parquet(paths: _*)

  private def assertSameRead(what: String, paths: Seq[String],
                             basePath: Option[String] = None): Unit = {
    val got = TableRead(spark, paths, basePath)
    val want = inferred(paths, basePath)
    assert(got.schema == want.schema, s"$what: schema")
    assert(rows(got).size == rows(want).size && rows(got).diff(rows(want)).isEmpty,
      s"$what: rows")
  }

  /** Row values with byte arrays compared by content (maps rule out `except`). */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })

  test("manifest-named files with basePath read as spark.read.parquet reads them") {
    assert(snap.files.exists(_.startsWith("tool_key=mcp%3Asearch/")), "fixture escapes a tool")
    assertSameRead("committed files", snap.files.map(f => s"$routed/$f"), Some(routed))
    assert(Manifest.readCommitted(spark, routed).get.filter($"tool" === "mcp:search")
      .select($"tool_key").distinct().as[String].collect().toSeq == Seq("mcp:search"))
  }

  test("partition dirs (the merge read), escaped ones included, read the same") {
    val parts = snap.committedPartitions
    assert(parts.exists(_.startsWith("tool_key=mcp%3Asearch/")))
    assertSameRead("partition dirs", parts.map(p => s"$routed/$p"), Some(routed))
    assertSameRead("escaped partition alone",
      parts.filter(_.startsWith("tool_key=mcp%3Asearch/")).map(p => s"$routed/$p"),
      Some(routed))
  }

  test("the table root (the unmanaged grep fallback) skips _manifest and _termindex2") {
    assertSameRead("table root", Seq(routed))
    assert(TableRead(spark, Seq(routed)).schema.fieldNames.toSeq.takeRight(3) ==
      TableWrite.partitionColumns)
  }

  test("a term-index version dir reads the same") {
    val v = s"$routed/_termindex2/v-${snap.snapshotId}"
    assert(new java.io.File(v).isDirectory, s"index version $v")
    assertSameRead("index version", Seq(v))
  }

  test("pyarrow-written sf tables keep inference's types (timestamp_ntz included)") {
    val tables = new java.io.File(sfDir).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    assert(tables.length >= 6, s"sf tables under $sfDir")
    tables.foreach { t =>
      assert(TableRead(spark, Seq(t)).schema == inferred(Seq(t)).schema, t)
    }
    assert(tables.exists(t => TableRead(spark, Seq(t)).schema.fields
      .exists(_.dataType.typeName == "timestamp_ntz")), "some sf table has timestamp_ntz")
  }

  test("no data file: the same error as spark.read.parquet") {
    val empty = tmpDir("tableread_empty")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    Seq(Seq(empty), Seq(s"$empty/missing")).foreach { paths =>
      val want = intercept[AnalysisException](inferred(paths))
      val got = intercept[AnalysisException](TableRead(spark, paths))
      assert(got.getMessage == want.getMessage, paths.toString)
    }
  }

  /** Spark jobs started while `build` runs. Listener events arrive in order,
    * so a marker job before and after `build` brackets exactly its jobs.
    */
  private def jobsDuring(build: => Any): Int = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Int = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(Option(starts.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail(s"marker job $name never reached the listener")))
        .takeWhile(_ != name).size
    }
    sc.addSparkListener(listener)
    try { marker("before"); build; marker("after") }
    finally sc.removeSparkListener(listener)
  }

  test("building an engine read starts no Spark job") {
    // above this many paths Spark lists them in a job of its own, schema or not
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val files = snap.files.map(f => s"$routed/$f")
    assert(files.size <= threshold, s"${files.size} files")
    assert(jobsDuring(inferred(files, Some(routed))) >= 1,
      "schema inference starts a job: the listener must see it")
    assert(jobsDuring(TableRead(spark, files, Some(routed))) == 0)
    assert(jobsDuring(Manifest.readCommitted(spark, routed)) == 0, "committed snapshot")
    // an unmanaged copy of the committed files: no manifest, so grep reads the root
    val unmanaged = s"$out/unmanaged"
    snap.files.foreach { f =>
      val dst = java.nio.file.Paths.get(unmanaged, f)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(java.nio.file.Paths.get(routed, f), dst)
    }
    assert(jobsDuring(Grep.table(spark, unmanaged)) == 0, "unmanaged table root")
    assert(jobsDuring(SparkEntry.queries("q04_filter_in")(spark, sfDir)) == 0, "query table")
  }
}
