package alcobench

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {

  private def spin(ms: Long): Long = {
    val end = System.nanoTime() + ms * 1000000L
    var x = 0L
    while (System.nanoTime() < end) x += 1
    x
  }

  test("CPU time is this process's own: busy threads count, sleeping ones do not") {
    val m0 = Jvm.mark()
    val ts = (0 until 2).map(_ => new Thread(() => { spin(300); Thread.sleep(100) }))
    ts.foreach(_.start())
    Thread.sleep(200) // the threads are alive when `since` reads them
    spin(100)
    val busy = Jvm.since(m0)
    ts.foreach(_.join())
    assert(busy.cpuNs >= 250L * 1000000L, busy.toString)

    val m1 = Jvm.mark()
    Thread.sleep(300)
    val idle = Jvm.since(m1)
    assert(idle.cpuNs < 150L * 1000000L, idle.toString)
  }

  test("a recorded curate digest is kept, a missing one is added") {
    val recorded = Map("q1" -> (10L, "a"))
    val fresh = Map("q1" -> (11L, "b"), "q2" -> (5L, "c"))
    assert(Workloads.DigestFile.keepRecorded(recorded, fresh) ==
      Map("q1" -> (10L, "a"), "q2" -> (5L, "c")))
  }
}
