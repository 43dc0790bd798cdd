package graft.alco

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the production pipeline — the deployment
  * shape of BASELINE.json's north rule ("run via spark-submit on a
  * multi-executor cluster at N and 4N executors"):
  *
  * {{{
  * spark-submit --class graft.alco.PipelineMain \
  *   --num-executors <N> --executor-cores C --executor-memory M \
  *   alcospark.jar <inPath> <outRoot> [batchId] [writerId]
  * }}}
  *
  * Master/executor topology comes entirely from spark-submit — the builder
  * sets NO master, so the same jar runs local[k] in the sandbox and YARN/
  * k8s clusters unchanged. Cluster sizing maps 1:1: nothing in
  * Pipeline.run depends on local mode (one data shuffle, broadcast dims,
  * write-pass stats via observe(), driver-side metadata bounded by
  * #partitions). Exit code 0 iff the batch committed (or idempotently
  * short-circuited); the Result is printed as one JSON line for the
  * orchestrator.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineMain <inPath> <outRoot> [batchId] [writerId]\n" +
        "   or: PipelineMain --compact <outRoot> [minFiles]\n" +
        "   or: PipelineMain --index <outRoot> [numBits]")
    // maintenance mode: refresh the per-file term-Bloom index (the Sphinx
    // `indexer` analog) — incremental, only new files' text is scanned
    if (args(0) == "--index") {
      val preexisting = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
      val spark = preexisting.getOrElse(SparkSession.builder()
        .appName("alcospark-termindex")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate())
      try {
        val r = TermIndex.build(spark, args(1),
          numBits = if (args.length > 2) args(2).toInt else 1 << 23)
        r match {
          case Some(b) => println(s"""{"snapshot_id":${b.snapshotId},""" +
            s""""indexed_files":${b.indexedFiles},""" +
            s""""fresh_files":${b.freshFiles},"reused_files":${b.reusedFiles}}""")
          case None => println("""{"indexed_files":0,"note":"no committed snapshot"}""")
        }
      } finally if (preexisting.isEmpty) spark.stop()
      return
    }
    // maintenance mode: spark-submit --class ... alcospark.jar --compact
    // <outRoot> [minFiles] — the cron-able Sphinx-OPTIMIZE analog
    if (args(0) == "--compact") {
      // only stop a session this entry created — embedding callers (and
      // the spec) keep theirs
      val preexisting = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
      val spark = preexisting.getOrElse(SparkSession.builder()
        .appName("alcospark-compact")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate())
      try {
        val r = Compact.compact(spark, args(1),
          minFiles = if (args.length > 2) args(2).toInt else 4)
        println(s"""{"compacted_partitions":${r.compactedPartitions.size},""" +
          s""""files_before":${r.filesBefore},"files_after":${r.filesAfter}}""")
      } finally if (preexisting.isEmpty) spark.stop()
      return
    }
    val inPath = args(0)
    val outRoot = args(1)
    val batchId = if (args.length > 2) args(2).toLong else 0L
    val writerId = if (args.length > 3) args(3) else ""

    val spark = SparkSession.builder()
      .appName(s"alcospark-pipeline-batch-$batchId")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val r = Pipeline.run(spark, TableRead(spark, Seq(inPath)), outRoot,
        Pipeline.Config(), batchId, writerId)
      println(
        s"""{"batch_id":${r.batchId},"snapshot_id":${r.snapshotId},""" +
        s""""input_rows":${r.inputRows},"routed_rows":${r.routedRows},""" +
        s""""quarantined_rows":${r.quarantinedRows},""" +
        s""""merged_partitions":${r.mergedPartitions},""" +
        s""""total_ms":${r.stageTimings.getOrElse("total_ms", 0L)}}""")
    } finally spark.stop()
  }
}
