package alcobench

import org.scalatest.funsuite.AnyFunSuite

class HostClockSpec extends AnyFunSuite {

  test("no samples leave the figures as measured") {
    val h = new HostClock(2)
    try assert(h.factor == 1.0) finally h.close()
  }

  test("the factor is the reference over the median sample") {
    val h = new HostClock(2)
    try {
      (0 until 5).foreach(_ => assert(h.sample() > 0))
      assert(h.samplesMs.size == 5)
      assert(h.factor == HostClock.Reference / Stats.median(h.samplesMs.toSeq))
    } finally h.close()
  }

  test("a busy core does not make the sample's CPU time grow") {
    val h = new HostClock(1)
    try {
      val quiet = (0 until 5).map(_ => h.sample()).min
      @volatile var stop = false
      val hogs = (0 until Runtime.getRuntime.availableProcessors()).map { _ =>
        val t = new Thread(() => { var x = 0L; while (!stop) x += 1 })
        t.start(); t
      }
      val busy = try (0 until 5).map(_ => h.sample()).min
        finally { stop = true; hogs.foreach(_.join()) }
      // waiting for a core is not CPU time; only a slower core would count
      assert(busy < quiet * 2, s"quiet $quiet ms, busy $busy ms")
    } finally h.close()
  }
}
