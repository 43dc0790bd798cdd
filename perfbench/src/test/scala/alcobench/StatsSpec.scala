package alcobench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 0.5) == 2.5)
    assert(Stats.quantile(xs, 0.75) == 3.25)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("tail percentile is the highest one with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(39).contains(0.5))
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(99).contains(0.75))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(10000).contains(0.999))
  }

  test("samplesFor inverts the tail rule") {
    assert(Stats.samplesFor(0.5) == 20)
    assert(Stats.samplesFor(0.75) == 40)
    assert(Stats.samplesFor(0.9) == 100)
  }

  test("prefix self times are successive differences and sum to the full call") {
    val self = Stats.selfTimes(Seq("read" -> 10.0, "classify" -> 25.0,
      "dedup" -> 40.0), "write", full = 100.0)
    assert(self == Seq("read" -> 10.0, "classify" -> 15.0, "dedup" -> 15.0,
      "write" -> 60.0))
    assert(self.map(_._2).sum == 100.0)
    assert(Stats.selfTimes(Nil, "all", 5.0) == Seq("all" -> 5.0))
  }

  test("failed_frac counts failures against attempts") {
    assert(Stats.failedFrac(10, 0) == 0.0)
    assert(Stats.failedFrac(10, 3) == 0.3)
    assert(Stats.failedFrac(0, 0) == 1.0)
    assertThrows[IllegalArgumentException](Stats.failedFrac(3, 5))
  }
}
