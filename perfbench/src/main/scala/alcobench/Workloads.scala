package alcobench

import scala.collection.mutable.ArrayBuffer

import graft.alco.{Compact, Grep, Manifest, Parse, Pipeline, Route, TermIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The three workloads. Each drives the engine through its public functions
  * only, from one closed-loop client: the next call is made when the last
  * one has returned.
  */
object Workloads {

  val all: Map[String, Ctx => Outcome] = Map(
    "ingest_bulk" -> IngestBulk.run,
    "ingest_trickle" -> IngestTrickle.run,
    "grep_curate" -> GrepCurate.run)

  private[alcobench] def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  private[alcobench] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def committedBytes(routed: String): Long =
    Manifest.latest(routed).map(_.files.map(f =>
      java.nio.file.Files.size(Fs.path(s"$routed/$f"))).sum).getOrElse(0L)

  /** Funnel of a batch against the generator's expectation: input =
    * quarantined + collapsed + routed, with collapsed known from the
    * generator.
    */
  private def funnelErrors(r: Pipeline.Result, f: Gen.Funnel): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    if (r.inputRows != f.input) errs += s"input ${r.inputRows} != ${f.input}"
    if (r.quarantinedRows != f.quarantined)
      errs += s"quarantined ${r.quarantinedRows} != ${f.quarantined}"
    if (r.inputRows != r.quarantinedRows + f.collapsed + r.routedRows)
      errs += s"funnel ${r.inputRows} != ${r.quarantinedRows} + ${f.collapsed} + ${r.routedRows}"
    errs.toSeq
  }

  private def committedCount(spark: SparkSession, routed: String): Long =
    Manifest.readCommitted(spark, routed).map(_.count()).getOrElse(0L)

  /** Fresh-table checks: the funnel balances, and the rollup sum, the
    * committed rows and the routed rows agree.
    */
  private def freshErrors(spark: SparkSession, r: Pipeline.Result,
      f: Gen.Funnel, root: String): Seq[String] = {
    val committed = committedCount(spark, s"$root/routed")
    val rollup = spark.read.parquet(s"$root/rollup_counts_batch_${r.batchId}")
      .agg(sum(col("n"))).head().getLong(0)
    funnelErrors(r, f) ++
      (if (rollup == committed && committed == r.routedRows) Nil
       else Seq(s"rollup $rollup, committed $committed, routed ${r.routedRows}"))
  }

  /** Timed cumulative prefixes of the ingest path, each ending in a sink
    * that does no work: read, + classify, + dedup, + extract.
    */
  private def prefixMs(turns: DataFrame): Seq[(String, Double)] = {
    val classified = Parse.classify(turns)
    val (ok, _) = Parse.splitQuarantine(classified)
    val deduped = Route.replaceSemantics(Route.stage(ok.drop(Parse.matchCols: _*)))
    Seq("read" -> turns, "parse.classify" -> classified,
      "route.dedup" -> deduped, "parse.extract" -> Parse.extract(deduped))
      .map { case (n, df) =>
        val t0 = System.nanoTime(); noop(df); n -> (System.nanoTime() - t0) / 1e6
      }
  }

  /** Per-layer figures of one traced ingest batch: prefix self times, the
    * engine's stage timings, JVM counters around the untraced call and the
    * traced call's operator metrics.
    */
  private[alcobench] final class IngestTrace {
    val rows = ArrayBuffer.empty[Map[String, Double]]

    def add(c: Ctx, turns: DataFrame, n: Long, untraced: (Pipeline.Result, Jvm),
        traced: (Jvm, Tally), root: String, filesBefore: Set[String]): Unit = {
      val (r, j) = untraced
      val st = r.stageTimings.map { case (k, v) => k -> v.toDouble }
      val pre = prefixMs(turns)
      val self = Stats.selfTimes(pre, "pipeline.write", st("write_ms"))
      val stages = Seq("setup_ms", "agg_ms", "commit_ms", "outputs_ms")
      val attributed = self.map(_._2).sum + stages.map(st).sum
      val routed = s"$root/routed"
      val t0 = System.nanoTime()
      val files = Manifest.latest(routed).map(_.files).getOrElse(Nil)
      val latestMs = (System.nanoTime() - t0) / 1e6
      val tally = traced._2
      val m = self.map { case (k, v) => s"$k.self_us_per_turn" -> v * 1000.0 / n } ++ Seq(
        "route.dedup.shuffle_bytes_per_turn" -> tally.shuffleWrite.get.toDouble / n,
        "route.dedup.collapsed_frac" ->
          (r.inputRows - r.quarantinedRows - r.routedRows).toDouble / r.inputRows,
        "pipeline.write.sort_spill_bytes" -> tally.sortSpill.get.toDouble,
        "pipeline.write.files" -> files.count(f => !filesBefore(f)).toDouble,
        "pipeline.write.bytes_per_turn" -> committedBytes(routed).toDouble / n,
        "pipeline.alloc_bytes_per_turn" -> j.allocBytes.toDouble / n,
        "pipeline.gc_frac" -> j.gcMs / j.wallMs,
        "pipeline.cpu_busy" -> j.cpuNs / (j.wallNs.toDouble * c.cpus),
        "pipeline.unattributed_ms" -> (j.wallMs - attributed),
        "pipeline.merged_partitions" -> r.mergedPartitions.toDouble,
        "manifest.latest_ms" -> latestMs,
        "manifest.dir_bytes" -> Fs.treeBytes(s"$routed/_manifest").toDouble,
        "manifest.files_named" -> files.size.toDouble,
        "trace.overhead_ms" -> (traced._1.wallMs - j.wallMs)) ++
        stages.map(k => s"pipeline.$k" -> st(k)) ++ Sql.of(tally)
      rows += m.toMap
    }

    def medians: Map[String, Double] =
      rows.flatMap(_.keys).distinct.map(k => k -> med(rows.flatMap(_.get(k)))).toMap
  }

  /** Operator SQLMetrics of a tally, as per-layer metrics. */
  private[alcobench] object Sql {
    def of(t: Tally): Seq[(String, Double)] = Seq(
      "sql.exchange.bytes" -> t.exchangeBytes.get.toDouble,
      "sql.exchange.write_ms" -> t.exchangeWriteNs.get / 1e6,
      "sql.sort.ms" -> t.sortMs.get.toDouble,
      "sql.sort.spill_bytes" -> t.sortSpill.get.toDouble,
      "sql.hashagg.ms" -> t.aggMs.get.toDouble,
      "sql.scan.ms" -> t.scanMs.get.toDouble,
      "sql.write.files" -> t.writtenFiles.get.toDouble,
      "sql.write.bytes" -> t.writtenBytes.get.toDouble)
  }

  // ── ingest_bulk ────────────────────────────────────────────────────────

  object IngestBulk {
    val Rows = 100000
    /** Distinct batches per run, each called in turn. The engine writes
      * straight off the dedup shuffle, and AQE packs its 16 shuffle
      * partitions into a number of write tasks that depends on how the keys of a
      * batch hash; the file count and the call time step with it (128 vs 160
      * files, ~30% in time). One batch per run would make that luck of the
      * seed the run's figure; the mean over the batches averages it.
      */
    val Batches = 3
    /** Calls per batch: the median of three ignores one slow call. */
    val CallsPerBatch = 3
    val TailP = 0.5

    def run(c: Ctx): Outcome = {
      val spec = Gen.Spec(c.seed, Rows, daysPerBatch = 4, batchesPerDay = 1,
        dupShare = 0.04, crossShare = 0.0, tailConvs = Rows / 50)
      val expect = (0 until Batches).map(b => Gen.funnel(spec, b))
      val warm = spec.copy(rowsPerBatch = Rows / 10)
      val warmExpect = Gen.funnel(warm, 0)
      // each set-up ends with a small call into a throwaway table and its
      // checks, so the loop starts with all their code compiled
      val input = c.setup(4) { d =>
        Gen.writeBatches(c.spark, spec, 0, Batches, s"$d/input")
        Gen.writeTurns(c.spark, warm, 0, s"$d/warm_input")
        val r = Pipeline.run(c.spark, c.spark.read.parquet(s"$d/warm_input"),
          s"$d/warm", batchId = 0L)
        freshErrors(c.spark, r, warmExpect, s"$d/warm")
        Fs.delete(s"$d/warm")
        s"$d/input"
      }
      val inDirs = (0 until Batches).map(b => s"$input/batch=$b")
      val inBytes = inDirs.map(Fs.treeBytes)
      val turns = inDirs.map(c.spark.read.parquet(_))
      // one untimed full-size call: the first one pays for growing into the
      // heap, which later calls reuse
      Pipeline.run(c.spark, turns(0), c.dir("warm_full"), batchId = 1L)
      Fs.delete(c.dir("warm_full"))
      val lat, cpu = Vector.fill(Batches)(ArrayBuffer.empty[Double])
      val storage = ArrayBuffer.empty[Double]
      val tr = new IngestTrace

      c.loop(minOps = CallsPerBatch * Batches) { i =>
        val b = i % Batches
        def run(traced: Boolean) = {
          val out = c.dir(s"table${i}_$traced")
          c.quiesce()
          c.op("ingest_bulk", traced)(
            Pipeline.run(c.spark, turns(b), out, batchId = 1L)
          )(r => freshErrors(c.spark, r, expect(b), out)).map((_, out))
        }
        val (untraced, traced) = Ctx.pair(c.trace, i)(run(false), run(true))
        untraced.foreach { case ((r, j, _), out) =>
          lat(b) += j.wallMs
          cpu(b) += j.cpuNs / 1000.0 / Rows
          if (i < Batches)
            storage += committedBytes(s"$out/routed").toDouble / inBytes(b)
          traced.foreach { case ((_, j2, t2), _) =>
            tr.add(c, turns(b), Rows, (r, j), (j2, t2), out, Set.empty)
          }
        }
        Seq(false, true).foreach(t => Fs.delete(c.dir(s"table${i}_$t")))
      }

      // each batch's median call, averaged over the batches
      def mean(xs: Seq[ArrayBuffer[Double]]): Double = {
        val ran = xs.filter(_.nonEmpty)
        if (ran.isEmpty) 0.0 else ran.map(med).sum / ran.size
      }
      val p50 = mean(lat)
      val layers =
        if (!c.trace) Map.empty[String, Double]
        else tr.medians ++ scaling(c, inDirs(0), p50)
      val turnsPerS = Rows / (p50 / 1000.0)
      Outcome(lat.flatten, TailP, p50, p50, turnsPerS, mean(cpu),
        Seq(("ingest_turns_per_s", turnsPerS, "turns/s"),
          ("ingest_cpu_us_per_turn", mean(cpu), "us"),
          ("storage_bytes_per_input_byte", med(storage), "ratio")),
        layers)
    }

    /** Diagnostic only: one-thread throughput and the 1→4 thread scaling
      * efficiency, from a second session after the measured loop.
      */
    private def scaling(c: Ctx, input: String, p50Ms: Double): Map[String, Double] = {
      c.spark.stop()
      c.spark = Main.session(1, c.work)
      val s = c.spark
      Pipeline.run(s, s.read.parquet(input), c.dir("warm1"), batchId = 0L)
      val t0 = System.nanoTime()
      Pipeline.run(s, s.read.parquet(input), c.dir("one_thread"), batchId = 1L)
      val oneMs = (System.nanoTime() - t0) / 1e6
      Fs.delete(c.dir("warm1")); Fs.delete(c.dir("one_thread"))
      Map("pipeline.tps_1thread" -> Rows / (oneMs / 1000.0),
        "pipeline.scaling_eff_1to4" -> oneMs / p50Ms / c.cpus)
    }
  }

  // ── ingest_trickle ─────────────────────────────────────────────────────

  object IngestTrickle {
    val Rows = 6000
    val UpkeepEvery = 4
    /** Set-up commits batches 0 and 1; the second one runs the merge path,
      * so the first timed batch does not pay for its warm-up.
      */
    val InitialBatches = 2
    /** Batches per run, whatever `--seconds` says: batches 2 to 11, of which
      * 4 and 8 wait on upkeep. The mix (8 + 2) and the final table size are
      * the same on every run, so the percentiles do not jump when one batch
      * more or less fits.
      */
    val Batches = 10
    /** Sorted, the 10 latencies put p50 between the 5th and 6th of the 8
      * ordinary batches and p90 halfway between the two upkeep batches. The
      * first batch after set-up, still warming up, is the slowest ordinary
      * one in most runs and stays out of p50. With 4 ordinary batches p50
      * fell on it, and runs of the same code spread by a fifth.
      */
    val TailP = 0.9

    def run(c: Ctx): Outcome = {
      val spec = Gen.Spec(c.seed, Rows, daysPerBatch = 2, batchesPerDay = 2,
        dupShare = 0.03, crossShare = 0.03,
        tailConvs = (InitialBatches + Batches) * Rows / 50)
      val funnels = (0 until InitialBatches).map(b => Gen.funnel(spec, b))
      val (root, initialBytes) = c.setup(4) { d =>
        val bytes = (0 until InitialBatches).map { b =>
          val n = Gen.writeTurns(c.spark, spec, b, s"$d/in_$b")
          Pipeline.run(c.spark, c.spark.read.parquet(s"$d/in_$b"), d, batchId = b.toLong)
          Fs.delete(s"$d/in_$b")
          n
        }.sum
        TermIndex.build(c.spark, d)
        (d, bytes)
      }
      var inBytes = initialBytes
      val routed = s"$root/routed"
      val keys = scala.collection.mutable.HashSet.empty[Long]
      funnels.foreach(keys ++= _.wellFormedKeys)
      // upkeep once, untimed: a run's first compaction and index update also
      // load and compile their code, which put the first upkeep batch
      // anywhere from 1.4 to 1.9 s
      Compact.compact(c.spark, root, minFiles = 2)
      TermIndex.build(c.spark, root)
      c.verify("initial_table")(
        if (committedCount(c.spark, routed) == keys.size) Nil
        else Seq(s"committed ${committedCount(c.spark, routed)} != ${keys.size}"))
      // warm the grep and its check once, untimed
      val warmOp = Gen.grepOp(spec, 0, 2, spec.batchStart(InitialBatches), 0)
      GrepServe.call(c.spark, routed, warmOp)
      Fs.unindexedView(routed, c.dir("view"))
      GrepServe.call(c.spark, c.dir("view"), warmOp)

      val lat, runMs, grepMs = ArrayBuffer.empty[Double]
      val grepByClass = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
      val compactMs, indexMs = ArrayBuffer.empty[Double]
      var compactBefore, compactAfter, fresh = 0.0
      val cpu = ArrayBuffer.empty[Double]
      val tr = new IngestTrace
      val overhead = ArrayBuffer.empty[(Boolean, Double)]

      // the loop's inputs, generated in one job before it starts
      val first = InitialBatches.toLong
      Gen.writeBatches(c.spark, spec, first, first + Batches, c.dir("in"))

      c.repeat(Batches) { i =>
        val b = first + i
        val in = c.dir(s"in/batch=$b")
        val f = Gen.funnel(spec, b)
        keys ++= f.wellFormedKeys
        val turns = c.spark.read.parquet(in)
        val traced = c.trace && i % 2 == 1
        var runWall = 0.0
        var filesBefore = Set.empty[String]
        c.quiesce()
        c.op("ingest_trickle", traced) {
          // upkeep on a fixed cadence blocks the batch behind it
          if (b % UpkeepEvery == 0) {
            val t0 = System.nanoTime()
            val cr = Compact.compact(c.spark, root, minFiles = 2)
            val t1 = System.nanoTime()
            val ir = TermIndex.build(c.spark, root)
            val t2 = System.nanoTime()
            compactMs += (t1 - t0) / 1e6; indexMs += (t2 - t1) / 1e6
            compactBefore = cr.filesBefore; compactAfter = cr.filesAfter
            fresh = ir.map(_.freshFiles.toDouble).getOrElse(0.0)
          }
          if (traced)
            filesBefore = Manifest.latest(routed).map(_.files.toSet).getOrElse(Set.empty)
          val t0 = System.nanoTime()
          val r = Pipeline.run(c.spark, turns, root, batchId = b)
          runWall = (System.nanoTime() - t0) / 1e6
          r
        } { r =>
          funnelErrors(r, f) ++ {
            val n = committedCount(c.spark, routed)
            if (n == keys.size) Nil else Seq(s"committed $n != ${keys.size} keys")
          }
        }.foreach { case (r, j, t) =>
          lat += j.wallMs
          runMs += runWall
          cpu += j.cpuNs / 1000.0 / Rows
          if (c.trace) {
            overhead += ((traced, runWall))
            // the engine's stages are attributed against the run alone,
            // without the upkeep that blocked it
            val run = j.copy(wallNs = (runWall * 1e6).toLong)
            if (traced) tr.add(c, turns, Rows, (r, run), (run, t), root, filesBefore)
          }
        }
        inBytes += Fs.treeBytes(in)
        Fs.delete(in)
        // one read beside the writes, from the same seeded mix
        val q = Gen.grepOp(spec, 0, (b / 2 + 2).toInt, spec.batchStart(b + 1), i)
        GrepServe.checked(c, routed, q, c.dir("view"), traced = false,
            viewReady = false).foreach { case (j, _) =>
          grepMs += j.wallMs
          grepByClass.getOrElseUpdate(q.cls, ArrayBuffer.empty) += j.wallMs
        }
      }

      val grepTail = Stats.quantile(grepMs.toSeq, GrepServe.TailP)
      val layers =
        if (!c.trace) Map.empty[String, Double]
        else {
          val (on, off) = overhead.partition(_._1)
          tr.medians ++ Map(
            "compact.ms" -> med(compactMs), "compact.files_before" -> compactBefore,
            "compact.files_after" -> compactAfter, "termindex.build_ms" -> med(indexMs),
            "termindex.fresh_files" -> fresh,
            "trace.overhead_ms" -> (med(on.map(_._2)) - med(off.map(_._2)))) ++
            grepByClass.map { case (k, v) => s"grep.$k.p50_ms" -> med(v) }
        }
      val turnsPerS = Rows / (med(runMs) / 1000.0)
      Outcome.sampled(lat.toSeq, TailP, turnsPerS, cpu.toSeq,
        Seq(("ingest_turns_per_s", turnsPerS, "turns/s"),
          ("ingest_cpu_us_per_turn", med(cpu), "us"),
          ("batch_latency_p50_ms", med(lat), "ms"),
          ("batch_latency_tail_ms", Stats.quantile(lat.toSeq, TailP), "ms"),
          ("storage_bytes_per_input_byte", committedBytes(routed).toDouble / inBytes, "ratio"),
          ("grep_latency_p50_ms", med(grepMs), "ms"),
          ("grep_latency_tail_ms", grepTail, "ms")),
        layers)
    }
  }

  // ── grep_curate ────────────────────────────────────────────────────────

  /** The read side, from one client: each of curate's queries in turn, a
    * grep call from the seeded mix after each. Both run against tables that
    * set-up built and that the loop does not change.
    */
  object GrepCurate {
    val TailP = 0.75

    def run(c: Ctx): Outcome = {
      val (root, sf) = c.setup(4) { d =>
        (GrepServe.prepare(c, s"$d/grep"), Curate.prepare(c, s"$d/sf"))
      }
      val g = new GrepServe(c, root)
      val q = new Curate(c, sf)
      // whole passes of the curate queries, so every run times the same mix;
      // one pass is 2 × 26 calls, enough for the tail percentile
      val minPasses = (Stats.samplesFor(TailP) + 2 * Curate.Queries.size - 1) /
        (2 * Curate.Queries.size)
      c.loop(minOps = minPasses) { pass =>
        Curate.Queries.indices.foreach { k =>
          q.step(pass, k)
          g.step(pass * Curate.Queries.size + k)
        }
      }
      val lat = g.lat.toSeq ++ q.lat.toSeq
      // calls per second over one rotation of each mix, at each call's median
      val rotation = g.classMedians ++ q.queryMedians
      val named = g.named ++ q.named
      Outcome.sampled(lat, TailP, rotation.size / (rotation.sum / 1000.0),
        g.cpu.toSeq ++ q.cpu.toSeq, named,
        if (!c.trace) Map.empty[String, Double]
        else g.layers ++ q.layers +
          ("trace.overhead_ms" -> med(g.overhead ++ q.overhead)))
    }
  }

  /** Grep calls from the seeded 11-class mix over a routed, indexed table. */
  object GrepServe {
    val Rows = 10000
    val Days = 3
    val TailP = 0.75

    def spec(seed: Long): Gen.Spec = Gen.Spec(seed, Rows, daysPerBatch = 1,
      batchesPerDay = 1, dupShare = 0.03, crossShare = 0.0,
      tailConvs = Rows * Days / 50)

    def call(spark: SparkSession, routed: String, op: Gen.GrepOp): Seq[Row] = op match {
      case Gen.QueryOp(_, q) => Grep.query(spark, routed, q).collect().toSeq
      case Gen.TotalOp(_, q) => Seq(Row(Grep.total(spark, routed, q)))
      case Gen.ContextOp(_, conv, t, n) => Grep.context(spark, routed, conv, t, n).collect().toSeq
    }

    /** One timed grep call, checked against the same call over an
      * unindexed view of the same snapshot (rows and order). The view is
      * rebuilt first unless the table has not changed since it was made.
      */
    def checked(c: Ctx, routed: String, op: Gen.GrepOp, view: String,
        traced: Boolean, viewReady: Boolean): Option[(Jvm, Tally)] =
      c.op(s"grep.${op.cls}", traced)(call(c.spark, routed, op)) { rows =>
        if (!viewReady) Fs.unindexedView(routed, view)
        val want = call(c.spark, view, op)
        if (rows == want) Nil
        else Seq(s"$op: ${rows.size} rows vs ${want.size} unindexed")
      }.map(r => (r._2, r._3))

    /** Set-up: `Days` one-day batches into a fresh table under `d`, its
      * term index and an unindexed view of it.
      */
    def prepare(c: Ctx, d: String): String = {
      val s = spec(c.seed)
      (0 until Days).foreach { b =>
        Gen.writeTurns(c.spark, s, b, s"$d/in_$b")
        Pipeline.run(c.spark, c.spark.read.parquet(s"$d/in_$b"), d, batchId = b.toLong)
        Fs.delete(s"$d/in_$b")
      }
      TermIndex.build(c.spark, d)
      Fs.unindexedView(s"$d/routed", s"$d/view")
      d
    }
  }

  /** The grep half of a run over the table `prepare` built under `root`. */
  final class GrepServe(c: Ctx, root: String) {
    import GrepServe._
    private val s = spec(c.seed)
    private val routed = s"$root/routed"
    private val view = s"$root/view"
    private val maxKey = s.batchStart(Days)
    val lat, cpu, overhead = ArrayBuffer.empty[Double]
    private val byClass = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    private val files, keep, probe = ArrayBuffer.empty[Double]

    // warm the query shapes once, untimed
    Gen.GrepClasses.indices.foreach(i =>
      call(c.spark, routed, Gen.grepOp(s, 0, Days, maxKey, i)))

    def step(i: Int): Unit = {
      val op = Gen.grepOp(s, 0, Days, maxKey, i)
      def run(traced: Boolean) =
        checked(c, routed, op, view, traced, viewReady = true)
      // traced runs time the call both ways, the order alternating so
      // neither side always finds the caches warmer
      val (untraced, traced) = Ctx.pair(c.trace, i)(run(false), run(true))
      untraced.foreach { case (j, _) =>
        lat += j.wallMs
        cpu += j.cpuNs / 1000.0
        byClass.getOrElseUpdate(op.cls, ArrayBuffer.empty) += j.wallMs
        traced.foreach { case (j2, t2) =>
          files += t2.scanFiles.get.toDouble
          overhead += j2.wallMs - j.wallMs
        }
      }
      if (c.trace) op match {
        case Gen.QueryOp(cls, q) if cls.startsWith("rare") =>
          val t0 = System.nanoTime()
          val p = TermIndex.pruneFiles(c.spark, routed,
            q.terms.map(_.toLowerCase), if (cls == "rare_any") 1 else q.terms.size)
          probe += (System.nanoTime() - t0) / 1e6
          keep += p.map(x => x.keep.size.toDouble / x.total).getOrElse(1.0)
        case _ =>
      }
    }

    def classMedians: Seq[Double] = byClass.values.map(med).toSeq

    def named: Seq[(String, Double, String)] = Seq(
      ("grep_latency_p50_ms", med(lat), "ms"),
      ("grep_latency_tail_ms",
        if (lat.isEmpty) 0.0 else Stats.quantile(lat.toSeq, TailP), "ms"))

    def layers: Map[String, Double] =
      byClass.map { case (k, v) => s"grep.$k.p50_ms" -> med(v) }.toMap ++ Map(
        "termindex.probe_ms" -> med(probe), "termindex.keep_frac" -> med(keep),
        "grep.files_read" -> med(files))
  }

  /** graft.Bench's 25 headline queries plus q57_surprisal, to a noop sink. */
  object Curate {
    val Queries: Seq[String] = Seq(
      "q01_rollup_counts", "q02_json_parse", "q04_filter_in", "q05_match_any",
      "q07_enrich_bcast", "q08_join_large", "q09_anti_join", "q11_distinct_sets",
      "q13_topk", "q17_dedup_replace", "q19_dedup_exact", "q22_minhash_lsh",
      "q24_ann_brute", "q26_langid", "q28_token_counts", "q29_fingerprint",
      "q43_match_phrase", "q44_match_quorum", "q47_hash_sample",
      "q58_line_dedup", "q61_curate", "q63_pack", "q68_assemble",
      "q69_sessionize", "q71_top_terms", "q57_surprisal")
    /** A tenth of sf0.1's row counts. */
    val Size = Gen.SfSize(docs = 500, events = 10000, customers = 1500,
      orders = 15000, lineitems = 60000, embeddings = 200)

    /** Row count and an order-independent hash of a query's result. */
    def digest(df: DataFrame): (Long, String) = {
      val h = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      (h.getLong(0), String.valueOf(h.get(1)))
    }

    /** Set-up: the sf-shaped tables, generated under `d`. */
    def prepare(c: Ctx, d: String): String = { Gen.writeSf(c.spark, c.seed, Size, d); d }
  }

  /** The curate half of a run over the tables `prepare` wrote to `sf`. */
  final class Curate(c: Ctx, sf: String) {
    import Curate._
    private val fns = graft.SparkEntry.queries
    val lat, cpu, overhead = ArrayBuffer.empty[Double]
    private val byQuery = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    private val shuffle = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]

    // one untimed pass, which also warms every query: each result must
    // match the first run of this seed in the same checkout
    private val recorded = DigestFile(c.work, c.seed)
    private val digests = Queries.flatMap { q =>
      var d: Option[(Long, String)] = None
      c.verify(s"digest $q") {
        val x = digest(fns(q)(c.spark, sf))
        d = Some(x)
        recorded.get(q).filter(_ != x).map(w => s"$q: $x vs $w in an earlier run").toSeq
      }
      d.map(q -> _)
    }.toMap
    DigestFile.save(c.work, c.seed, DigestFile.keepRecorded(recorded, digests))

    def step(pass: Int, k: Int): Unit = {
      val q = Queries(k)
      def run(traced: Boolean) =
        if (traced) Some(c.probe.span(noop(fns(q)(c.spark, sf))))
        else c.op(q)(noop(fns(q)(c.spark, sf)))(_ => Nil)
      val (untraced, traced) = Ctx.pair(c.trace, pass)(run(false), run(true))
      untraced.foreach { case (_, j, _) =>
        lat += j.wallMs
        cpu += j.cpuNs / 1000.0
        byQuery.getOrElseUpdate(q, ArrayBuffer.empty) += j.wallMs
        traced.foreach { case (_, j2, t2) =>
          shuffle.getOrElseUpdate(q, ArrayBuffer.empty) += t2.shuffleWrite.get.toDouble
          overhead += j2.wallMs - j.wallMs
        }
      }
    }

    def queryMedians: Seq[Double] = Queries.map(q => byQuery.get(q).map(med).getOrElse(0.0))

    def named: Seq[(String, Double, String)] = Seq(
      ("curate_wall_s", queryMedians.sum / 1000.0, "s"))

    def layers: Map[String, Double] = Queries.flatMap { q =>
      Seq(s"ops.$q.s" -> byQuery.get(q).map(med).getOrElse(0.0) / 1000.0,
        s"ops.$q.shuffle_bytes" -> shuffle.get(q).map(med).getOrElse(0.0))
    }.toMap
  }

  /** Per-seed curate digests kept beside the work dirs, so a later run of
    * the same seed in the same checkout is checked against the first one.
    */
  private[alcobench] object DigestFile {
    /** A recorded digest is never replaced, also not after a mismatch; a
      * query gets this run's digest only when it has none yet.
      */
    def keepRecorded(recorded: Map[String, (Long, String)],
        fresh: Map[String, (Long, String)]): Map[String, (Long, String)] =
      fresh ++ recorded

    private def path(work: String, seed: Long) =
      Fs.path(s"$work/../curate_digests_$seed.txt")

    def apply(work: String, seed: Long): Map[String, (Long, String)] = {
      val p = path(work, seed)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else java.nio.file.Files.readAllLines(p).toArray(Array.empty[String]).toSeq
        .map(_.split('\t')).collect { case Array(q, n, h) => q -> (n.toLong, h) }.toMap
    }

    def save(work: String, seed: Long, m: Map[String, (Long, String)]): Unit =
      java.nio.file.Files.write(path(work, seed), m.toSeq.sortBy(_._1)
        .map { case (q, (n, h)) => s"$q\t$n\t$h" }.mkString("", "\n", "\n")
        .getBytes("UTF-8"))
  }
}
