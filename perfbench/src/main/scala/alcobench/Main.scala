package alcobench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints an environment stamp, a table of the workload's named metrics
  * (per-layer ones too on a traced run) and, as its last line, one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`.
  */
object Main {

  /** End-to-end metrics, reported by every workload (untraced runs). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s", "cpu_us_per_item" -> "us",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics, reported by every traced run; a layer a workload
    * does not reach reports 0.
    */
  val PerLayer: Seq[(String, String)] = {
    val ingest = Seq("read", "parse.classify", "route.dedup", "parse.extract",
      "pipeline.write").map(l => s"$l.self_us_per_turn" -> "us") ++ Seq(
      "route.dedup.shuffle_bytes_per_turn" -> "bytes",
      "route.dedup.collapsed_frac" -> "ratio",
      "pipeline.write.sort_spill_bytes" -> "bytes",
      "pipeline.write.files" -> "count",
      "pipeline.write.bytes_per_turn" -> "bytes",
      "pipeline.alloc_bytes_per_turn" -> "bytes",
      "pipeline.gc_frac" -> "ratio",
      "pipeline.cpu_busy" -> "ratio",
      "pipeline.unattributed_ms" -> "ms",
      "pipeline.setup_ms" -> "ms", "pipeline.agg_ms" -> "ms",
      "pipeline.commit_ms" -> "ms", "pipeline.outputs_ms" -> "ms",
      "pipeline.merged_partitions" -> "count",
      "manifest.latest_ms" -> "ms", "manifest.dir_bytes" -> "bytes",
      "manifest.files_named" -> "count")
    val upkeep = Seq("compact.ms" -> "ms", "compact.files_before" -> "count",
      "compact.files_after" -> "count", "termindex.build_ms" -> "ms",
      "termindex.fresh_files" -> "count")
    val grep = Gen.GrepClasses.map(k => s"grep.$k.p50_ms" -> "ms") ++ Seq(
      "termindex.probe_ms" -> "ms", "termindex.keep_frac" -> "ratio",
      "grep.files_read" -> "count")
    val ops = Workloads.Curate.Queries.flatMap(q =>
      Seq(s"ops.$q.s" -> "s", s"ops.$q.shuffle_bytes" -> "bytes"))
    val sql = Seq("sql.exchange.bytes" -> "bytes", "sql.exchange.write_ms" -> "ms",
      "sql.sort.ms" -> "ms", "sql.sort.spill_bytes" -> "bytes",
      "sql.hashagg.ms" -> "ms", "sql.scan.ms" -> "ms",
      "sql.write.files" -> "count", "sql.write.bytes" -> "bytes")
    val diag = Seq("pipeline.tps_1thread" -> "turns/s",
      "pipeline.scaling_eff_1to4" -> "ratio", "trace.overhead_ms" -> "ms")
    ingest ++ upkeep ++ grep ++ ops ++ sql ++ diag
  }

  /** The session every workload runs on: one local process with `cpus`
    * task threads, shuffle and spill inside the work dir.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("alcospark-perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", math.max(cpus * 4, 16).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.hadoop.parquet.block.size", (32 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val runFn = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; " +
        s"one of ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val c = new Ctx(session(cpus, work), work, seed, seconds, trace)
    val o = runFn(c)
    c.host.close()
    c.log("latencies ms: " + o.latenciesMs.map(x => f"$x%.0f").mkString(" "))
    c.log("host samples ms: " + c.host.samplesMs.map(x => f"$x%.1f").mkString(" "))

    // end-to-end figures as on the reference host (see HostClock)
    val f = c.host.factor
    def scaled(v: Double, unit: String): Double = unit match {
      case "ms" | "s" | "us" => v * f
      case u if u.endsWith("/s") => v / f
      case _ => v
    }
    val raw: Map[String, Double] = Map(
      "setup_s" -> Stats.median(c.setupS.toSeq),
      "latency_p50_ms" -> o.p50Ms,
      "latency_tail_ms" -> o.tailMs,
      "throughput_per_s" -> o.throughputPerS,
      "cpu_us_per_item" -> o.cpuUsPerItem,
      "peak_rss_mb" -> Jvm.peakRssMb())
    val e2e = EndToEnd.map { case (k, u) => k -> scaled(raw(k), u) }.toMap
    val metrics: Seq[(String, Double, String)] =
      if (trace) PerLayer.map { case (k, u) => (k, o.layers.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, u) => (k, e2e(k), u) }

    val env = Seq(
      "workload" -> workload, "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "gc" -> Jvm.gcNames, "cpu_clock" -> Jvm.cpuSource, "jdk" -> System.getProperty("java.version"),
      "work_dir" -> work,
      "host_sample_ms" -> f"${HostClock.Reference / f}%.3f",
      "host_factor" -> f"$f%.4f",
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"))
    println("env " + env.map { case (k, v) => s"${json(k)}:${json(v)}" }
      .mkString("{", ",", "}"))

    val tailLabel = f"p${o.tailP * 100}%.0f"
    println(f"== $workload seed=$seed trace=$trace: ${o.latenciesMs.size} ops " +
      f"(tail = $tailLabel), attempted=${c.attempted} failed=${c.failed} " +
      f"failed_frac=${Stats.failedFrac(c.attempted, c.failed)}%.4f")
    def row(k: String, v: Double, u: String): Unit = println(f"  $k%-40s ${num(v)}%18s $u")
    if (!trace) {
      println(f"  (times and rates below are scaled by the host factor $f%.4f)")
      (EndToEnd.map { case (k, u) => (k, e2e(k), u) } ++
        o.named.map { case (k, v, u) => (k, scaled(v, u), u) }).foreach((row _).tupled)
      row("failed_frac", Stats.failedFrac(c.attempted, c.failed), "ratio")
      println("  unscaled:")
      EndToEnd.filter(_._2 != "MB").foreach { case (k, u) => row(s"$k.raw", raw(k), u) }
    } else {
      println("  per-layer (the JSON line reports 0 for layers off this workload's path):")
      metrics.filter(m => o.layers.contains(m._1)).foreach((row _).tupled)
      o.layers.get("pipeline.unattributed_ms").foreach(u =>
        println(f"  unattributed remainder of Pipeline.run: $u%.1f ms"))
      o.layers.get("trace.overhead_ms").foreach(u =>
        println(f"  tracing overhead (traced minus untraced call): $u%.1f ms"))
    }

    val correct = c.failed == 0 && c.attempted > 0
    val m = metrics.map { case (k, v, u) =>
      s"${json(k)}:{${json("value")}:${num(v)},${json("unit")}:${json(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${c.attempted},"failed":${c.failed},"metrics":$m}""")
    System.out.flush()
    // SparkContext.stop, here or in its shutdown hook, waits about 2.5 s for
    // its network threads to go quiet; the session holds nothing that
    // outlives the process, and run.py deletes the work dir, so the JVM ends
    // at once
    Runtime.getRuntime.halt(0)
  }
}
