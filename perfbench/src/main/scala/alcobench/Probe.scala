package alcobench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.CommandResultExec
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide counters read around a call, from outside the engine. */
final case class Jvm(wallNs: Long, cpuNs: Long, gcMs: Long, allocBytes: Long) {
  def wallMs: Double = wallNs / 1e6
}

object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val tasks = java.nio.file.Paths.get("/proc/self/task")

  /** Threads of the JIT compiler, by id. Their CPU is the JVM warming up,
    * which comes and goes with what it has compiled so far, not work of the
    * engine; it is left out.
    */
  private val compilerThread = scala.collection.mutable.Map.empty[Long, Boolean]

  private def isCompiler(tid: Long, dir: java.nio.file.Path): Boolean =
    compilerThread.getOrElseUpdate(tid, scala.util.Try(new String(
      java.nio.file.Files.readAllBytes(dir.resolve("comm"))).trim.matches("C[12] Compiler.*")
    ).getOrElse(false))

  /** CPU time so far of each live thread of this process, by thread id,
    * leaving out the JIT compiler. The kernel's per-thread `schedstat`
    * counts in ns and includes the collector threads; where it is not
    * readable, the JVM's own per-thread clocks (Java threads only) stand in.
    */
  private def kernelThreadCpu(): Map[Long, Long] = {
    val s = java.nio.file.Files.newDirectoryStream(tasks)
    try s.iterator().asScala.flatMap { t =>
      scala.util.Try {
        val tid = t.getFileName.toString.toLong
        if (isCompiler(tid, t)) None
        else Some(tid -> new String(java.nio.file.Files.readAllBytes(
          t.resolve("schedstat"))).takeWhile(_ != ' ').toLong)
      }.toOption.flatten
    }.toMap
    finally s.close()
  }

  private def jvmThreadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  private val useKernel: Boolean =
    scala.util.Try(kernelThreadCpu().values.exists(_ > 0)).getOrElse(false)

  def cpuSource: String = if (useKernel) "threads-schedstat" else "threads-jmx"

  private def threadCpu(): Map[Long, Long] =
    if (useKernel) kernelThreadCpu() else jvmThreadCpu()

  /** The counters at one point in time. */
  final case class Mark(wallNs: Long, cpuNs: Map[Long, Long], gcMs: Long,
      allocBytes: Long)

  /** Counters now; the clock is read last, so the reads are not timed. */
  def mark(): Mark = {
    val cpu = threadCpu()
    val gc = gcs.map(g => math.max(g.getCollectionTime, 0L)).sum
    val alloc = threads.getTotalThreadAllocatedBytes
    Mark(System.nanoTime(), cpu, gc, alloc)
  }

  /** Counter deltas since `m`; the clock is read first. CPU time is summed
    * over the threads alive at the end: each one's time since `m`, or all of
    * it for a thread started since. A thread that ended in between is lost,
    * which the pooled Spark task threads do not do.
    */
  def since(m: Mark): Jvm = {
    val wall = System.nanoTime()
    val cpu = threadCpu()
    Jvm(wall - m.wallNs,
      cpu.iterator.map { case (t, ns) => ns - m.cpuNs.getOrElse(t, 0L) }.sum,
      gcs.map(g => math.max(g.getCollectionTime, 0L)).sum - m.gcMs,
      threads.getTotalThreadAllocatedBytes - m.allocBytes)
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(
      Runtime.getRuntime.totalMemory() / 1048576.0)
  }

  def gcNames: String = gcs.map(_.getName).mkString("+")
}

/** Counters of one traced call: the shuffle bytes its tasks wrote plus the
  * SQLMetrics of every physical operator it executed.
  */
final class Tally {
  val shuffleWrite, exchangeBytes, exchangeWriteNs, sortMs, sortSpill, aggMs,
    scanMs, scanFiles, writtenFiles, writtenBytes = new AtomicLong
}

/** The benchmark's tracer: a SparkListener for task metrics and a
  * QueryExecutionListener for operator SQLMetrics, both adding into the
  * tally of the current span.
  */
final class Probe(spark: SparkSession) {
  @volatile private var cur = new Tally

  private val taskListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) cur.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val t = cur
      nodes(qe.executedPlan).foreach { p =>
        def m(k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
        p.nodeName match {
          case n if n.contains("Exchange") && !n.startsWith("Reused") =>
            t.exchangeBytes.addAndGet(m("shuffleBytesWritten"))
            t.exchangeWriteNs.addAndGet(m("shuffleWriteTime"))
          case n if n == "Sort" =>
            t.sortMs.addAndGet(m("sortTime"))
            t.sortSpill.addAndGet(m("spillSize"))
          case n if n.contains("Aggregate") =>
            t.aggMs.addAndGet(m("aggTime"))
          case n if n.startsWith("Scan") || n.contains("FileScan") =>
            t.scanMs.addAndGet(m("scanTime"))
            t.scanFiles.addAndGet(m("numFiles"))
          case _ =>
        }
        p match {
          case w: DataWritingCommandExec =>
            t.writtenFiles.addAndGet(w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L))
            t.writtenBytes.addAndGet(w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
          case _ =>
        }
      }
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every physical operator of a plan: through adaptive plans, query
    * stages, command wrappers and subqueries.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Run `f` as one traced call: the listeners are attached for the call
    * only, and the bus is drained before they come off. Returns the value,
    * the JVM counter deltas and the tally of everything the call ran.
    */
  def span[A](f: => A): (A, Jvm, Tally) = {
    drain() // events of earlier, untraced calls must not reach the tally
    val t = new Tally
    cur = t
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(sqlListener)
    try {
      val j0 = Jvm.mark()
      val a = f
      val d = Jvm.since(j0)
      drain()
      (a, d, t)
    } finally {
      spark.sparkContext.removeSparkListener(taskListener)
      spark.listenerManager.unregister(sqlListener)
    }
  }
}

/** File-system helpers for work dirs inside the benchmark's checkout. */
object Fs {
  import java.nio.file.{Files, Path, Paths}

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith("."))
      .map(Files.size).sum
    finally s.close()
  }

  def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** An unindexed view of a routed table's latest committed snapshot:
    * hard links to its data files and its snapshot file, and no term index.
    * Grep over the view is the same query without pruning.
    */
  def unindexedView(routed: String, view: String): Unit = {
    delete(view)
    val snap = graft.alco.Manifest.latest(routed).get
    def link(rel: String): Unit = {
      val dst = Paths.get(view, rel)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, Paths.get(routed, rel))
    }
    snap.files.foreach(link)
    link(s"_manifest/snapshot-${snap.snapshotId}.json")
  }

  def path(p: String): Path = Paths.get(p)
}
