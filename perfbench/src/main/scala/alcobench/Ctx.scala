package alcobench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one workload measured, before Main turns it into metrics. */
final case class Outcome(
    latenciesMs: Seq[Double],
    tailP: Double,
    p50Ms: Double,
    tailMs: Double,
    throughputPerS: Double,
    cpuUsPerItem: Double,
    named: Seq[(String, Double, String)],
    layers: Map[String, Double])

object Outcome {
  /** Median, tail and CPU straight from the samples of the closed loop. */
  def sampled(latenciesMs: Seq[Double], tailP: Double, throughputPerS: Double,
      cpuUsPerItem: Seq[Double], named: Seq[(String, Double, String)],
      layers: Map[String, Double]): Outcome =
    Outcome(latenciesMs, tailP, Workloads.med(latenciesMs),
      if (latenciesMs.isEmpty) 0.0 else Stats.quantile(latenciesMs, tailP),
      throughputPerS, Workloads.med(cpuUsPerItem), named, layers)
}

/** One run's state: the session, the work dir, the closed-loop clock and
  * the op counters behind `attempted` / `failed`.
  */
final class Ctx(var spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val trace: Boolean) {

  val cpus: Int = spark.sparkContext.defaultParallelism
  lazy val probe = new Probe(spark)
  /** Sampled between calls and after each set-up; see HostClock. */
  val host = new HostClock(cpus)
  var attempted = 0L
  var failed = 0L
  val setupS = ArrayBuffer.empty[Double]

  def dir(name: String): String = s"$work/$name"

  private val born = System.nanoTime()

  /** Progress note on stderr (the run's log), stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2fs] $msg")

  private def fail(name: String, errs: Seq[String]): Unit = {
    failed += 1
    errs.foreach(e => System.err.println(s"[check failed] $name: $e"))
  }

  /** Set up `reps` times from nothing, each in a fresh dir, and keep the
    * last. The first repetition also warms the JVM; the wall times of the
    * others go to `setupS`, whose median is `setup_s`. Each starts from a
    * collected heap: with two counted set-ups and no collection before them,
    * one of them now and then took a second longer, and `setup_s` with it.
    */
  def setup[A](reps: Int)(prepare: String => A): A = {
    var last: Option[A] = None
    (0 until reps).foreach { rep =>
      val d = dir(s"setup$rep")
      Fs.delete(d)
      quiesce()
      val t0 = System.nanoTime()
      last = Some(prepare(d))
      val sec = (System.nanoTime() - t0) / 1e9
      if (rep > 0) setupS += sec
      log(f"setup $rep: $sec%.2fs, host sample ${host.sample()}%.1f ms")
      if (rep > 0) Fs.delete(dir(s"setup${rep - 1}"))
    }
    last.get
  }

  /** The closed loop: call `body(i)` for i = 0, 1, … until `seconds` have
    * passed and at least `minOps` calls were made, or the hard cap is hit.
    * A traced run times each call twice, so its cap is twice as long.
    */
  def loop(minOps: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val cap = math.max(3 * seconds, seconds + 15) * (if (trace) 2 else 1)
    def el = (System.nanoTime() - t0) / 1e9
    var i = 0
    log("loop start")
    while ((el < seconds || i < minOps) && el < cap) { body(i); i += 1 }
    log(f"loop end: $i ops in $el%.2fs")
    if (i < minOps)
      System.err.println(s"[warn] only $i of $minOps ops fit in ${cap}s")
  }

  /** Exactly `ops` calls, whatever `seconds` says, for a workload whose
    * samples must be the same mix on every run.
    */
  def repeat(ops: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    log("loop start")
    (0 until ops).foreach(body)
    log(f"loop end: $ops ops in ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  /** Collect garbage before a long call, so every call starts from the same
    * heap state and the number of collections inside it does not depend on
    * where the previous call left the young generation.
    */
  def quiesce(): Unit = System.gc()

  /** One measured op. `call` is timed (and traced when `traced`); `check`
    * runs untimed and returns failure messages. A failed check or a throw
    * counts the op as failed; a throw also drops its sample.
    */
  def op[A](name: String, traced: Boolean = false)(call: => A)(
      check: A => Seq[String]): Option[(A, Jvm, Tally)] = {
    attempted += 1
    try {
      val (a, d, t) =
        if (traced) probe.span(call)
        else { val j0 = Jvm.mark(); val a = call; (a, Jvm.since(j0), new Tally) }
      val errs = check(a)
      if (errs.nonEmpty) fail(name, errs)
      Some((a, d, t))
    } catch {
      case e: Exception => fail(name, Seq(e.toString)); None
    } finally host.sample()
  }

  /** A correctness check that is not attached to a timed op. */
  def verify(name: String)(check: => Seq[String]): Unit = {
    attempted += 1
    val errs = try check catch { case e: Exception => Seq(e.toString) }
    if (errs.nonEmpty) fail(name, errs)
  }
}

object Ctx {
  /** The untraced result of `untraced` and, when `trace` is on, the result
    * of `traced` too, run first on odd `i` so that neither side always runs
    * on the caches the other one warmed.
    */
  def pair[A](trace: Boolean, i: Int)(untraced: => Option[A],
      traced: => Option[A]): (Option[A], Option[A]) =
    if (!trace) (untraced, None)
    else if (i % 2 == 1) { val t = traced; (untraced, t) }
    else { val u = untraced; (u, traced) }
}
