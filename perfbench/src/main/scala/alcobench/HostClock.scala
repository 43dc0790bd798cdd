package alcobench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors, ThreadFactory, TimeUnit}

import scala.collection.mutable.ArrayBuffer

/** How fast the host's cores run right now, from a fixed piece of work that
  * does not touch the engine.
  *
  * The benchmark gets a few cores of a machine it shares with other
  * tenants. How hard they use the same physical cores and caches shifts from
  * minute to minute, and with it the CPU time any code needs: one run's
  * calls can cost 20-40% more CPU than the same calls a few minutes later.
  * A sample sorts `threads` fixed arrays of pseudo-random longs in
  * parallel, one per thread, and takes the mean CPU time a thread needed;
  * the least of `Reps` tries, so a stray interruption does not count. The
  * work is the same in every run, whatever the seed or the engine's code,
  * so the samples move only with the host. Samples are taken between the
  * workload's calls, never during one.
  *
  * `factor` is `Reference` ÷ the run's median sample. The end-to-end times
  * are multiplied by it (rates divided): they read as on a host whose cores
  * sort the arrays in `Reference` ms.
  */
final class HostClock(threads: Int) extends AutoCloseable {
  import HostClock._

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-host-clock")
      t.setDaemon(true)
      t
    }
  })
  private val cpuClock = ManagementFactory.getThreadMXBean
  private val arrays = Array.fill(threads)(new Array[Long](Longs))
  val samplesMs = ArrayBuffer.empty[Double]

  /** Fill array `i` from a fixed seed and sort it; the CPU ns it took. */
  private def work(i: Int): Long = {
    val c0 = cpuClock.getCurrentThreadCpuTime
    val a = arrays(i)
    var x = 0x9E3779B97F4A7C15L * (i + 1)
    var k = 0
    while (k < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(k) = x; k += 1
    }
    java.util.Arrays.sort(a)
    cpuClock.getCurrentThreadCpuTime - c0
  }

  /** Mean CPU ms per thread of one parallel try. */
  private def once(): Double = {
    val fs = (0 until threads).map(i => pool.submit(new Callable[Long] {
      def call(): Long = work(i)
    }))
    fs.map(_.get()).sum / 1e6 / threads
  }

  // compiled before the first recorded sample
  (0 until Warmup).foreach(_ => once())

  /** One recorded sample, in CPU ms. */
  def sample(): Double = {
    val ms = (0 until Reps).map(_ => once()).min
    samplesMs += ms
    ms
  }

  /** `Reference` ÷ the median sample: below 1 on a host slower than the
    * reference.
    */
  def factor: Double =
    if (samplesMs.isEmpty) 1.0 else Reference / Stats.median(samplesMs.toSeq)

  def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object HostClock {
  /** Longs per thread: 1 MB, a few ms to sort. */
  val Longs: Int = 1 << 17
  val Reps = 5
  val Warmup = 50
  /** The median sample on a quiet 4-vCPU host (AMD EPYC, JDK 17). */
  val Reference = 5.5
}
