package alcobench

/** The benchmark's metric math, kept free of Spark so it can be tested alone. */
object Stats {

  /** Linear-interpolation quantile (the "type 7" rule of R and numpy). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(p >= 0 && p <= 1, s"quantile $p outside [0, 1]")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail may be reported at. */
  val Ladder: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)

  /** The highest ladder percentile with at least `beyond` of `n` samples
    * above it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter(p => math.round(n * (1 - p) * 1e6) >= beyond * 1000000L).lastOption

  /** Fewest samples for which `tailPercentile` reaches `p`. */
  def samplesFor(p: Double, beyond: Int = 10): Int =
    Iterator.from(1).find(n => tailPercentile(n, beyond).exists(_ >= p)).get

  /** Self time of each layer from timed cumulative prefixes.
    *
    * `prefixes(i)` is the time of running layers 0..i alone (ending in a
    * sink that does no work); `full` is the time of the whole call, whose
    * last layer is `last`. A layer's self time is its prefix minus the one
    * before it, and `last` gets `full` minus the longest prefix.
    */
  def selfTimes(prefixes: Seq[(String, Double)], last: String,
      full: Double): Seq[(String, Double)] = {
    val cum = prefixes.map(_._2)
    val diffs = prefixes.indices.map(i => cum(i) - (if (i == 0) 0.0 else cum(i - 1)))
    prefixes.map(_._1).zip(diffs) :+
      (last -> (full - cum.lastOption.getOrElse(0.0)))
  }

  /** Failed ops as a share of attempted ones; nothing attempted is all failed. */
  def failedFrac(attempted: Long, failed: Long): Double = {
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    if (attempted == 0) 1.0 else failed.toDouble / attempted
  }
}
