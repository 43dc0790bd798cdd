package graft.alco

import java.nio.file.{Files, Path => NioPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The one write path (`TableWrite`) on its `file:` filesystem (`LocalFs`):
  * no process per written file or directory, the same mode bits the forked
  * `chmod` produced.
  */
class WritePathSpec extends SparkSpec {
  import spark.implicits._

  /** Command lines of every process the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val starts = new ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => starts.add(e.getString("command")))
      @volatile var flushes: Option[CountDownLatch] = None
      rs.onFlush(() => flushes.foreach(_.countDown()))
      rs.startAsync()
      body
      // events reach the stream at the periodic flush (about once a
      // second); two flushes after `body` returned have delivered them all
      val latch = new CountDownLatch(2)
      flushes = Some(latch)
      assert(latch.await(30, TimeUnit.SECONDS), "JFR stream never flushed")
    } finally rs.close()
    starts.asScala.toSeq
  }

  private def walk(root: String): Seq[NioPath] =
    Files.walk(Paths.get(root)).iterator().asScala.toSeq

  private def mode(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("ingest, merge, compaction and index build start no chmod process") {
    val out = tmpDir("write_path")
    val turns = Gen.turns(spark, 4000L).toDF().cache()
    val cut = lit("2025-01-03 00:00:00").cast("timestamp")
    val cfg = Pipeline.Config(maxRecordsPerFile = 200L)
    turns.count()
    val starts = processStarts {
      Pipeline.run(spark, turns.filter($"ts" < cut), out, cfg, batchId = 0L)
      val merge = Pipeline.run(spark, turns, out, cfg, batchId = 1L)
      assert(merge.mergedPartitions > 0)
      assert(Compact.compact(spark, out, minFiles = 2).compactedPartitions.nonEmpty)
      assert(TermIndex.build(spark, out).exists(_.indexedFiles > 0))
    }
    turns.unpersist()
    assert(!starts.exists(_.contains("chmod")), starts.mkString("\n"))

    // under Hadoop's default umask (022): data files and their .crc
    // sidecars rw-r--r--, created directories rwxr-xr-x
    val written = walk(s"$out/routed").filter(p =>
      p.toString.contains("/tool_key=") || p.toString.contains("/_termindex2/v-"))
    val (dirs, files) = written.partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
    assert(files.exists(_.getFileName.toString.endsWith(".crc")))
    assert(dirs.nonEmpty)
    files.foreach(f => assert(mode(f) == "rw-r--r--", f))
    dirs.foreach(d => assert(mode(d) == "rwxr-xr-x", d))
  }

  test("a permission beyond rwx falls back to the parent setPermission") {
    val dir = Files.createTempDirectory("write_path_sticky")
    val raw = new LocalFs.Raw
    raw.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir.toUri)
    val starts = processStarts {
      raw.setPermission(p, new FsPermission(Integer.parseInt("1755", 8).toShort))
    }
    // the unix view's mode carries the sticky bit the POSIX view drops
    val unixMode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert((unixMode & Integer.parseInt("7777", 8)) == Integer.parseInt("1755", 8))
    // without libhadoop the parent forks chmod — which also shows the
    // recorder above sees the processes it must not miss
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(starts.exists(_.contains("chmod")), starts.mkString("\n"))

    raw.setPermission(p, new FsPermission(Integer.parseInt("700", 8).toShort))
    assert(mode(dir) == "rwx------")
    intercept[java.io.FileNotFoundException] {
      raw.setPermission(new org.apache.hadoop.fs.Path(dir.toUri.toString + "/missing"),
        new FsPermission(Integer.parseInt("644", 8).toShort))
    }
  }
}
