package graft.streaming

import graft.alco.{Model, Parse, TableRead, TableWrite}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming variant of the alco loop (SURVEY.md O31-O35).
  *
  * Reference analog: alco's collector daemons consuming RabbitMQ with
  * batch-size/timeout flushes [PK collector.py]. Sandbox has no Kafka jar,
  * so the source is the file source (`maxFilesPerTrigger` = the batch knob);
  * swapping in Kafka is a `format()` change.
  *
  * Divergence documented in SURVEY.md O32: alco accepts unbounded lateness
  * (a late message lands in its day's shard); the streaming aggregate needs
  * a watermark to bound state, so batch recomputation remains the equality
  * path for rollups while the stream gives low-latency approximations.
  */
object StreamPipeline {

  def source(spark: SparkSession, inDir: String, maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(Model.turnSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)

  /** Routed fan-out write: each micro-batch runs the FULL batch pipeline
    * (classify → REPLACE dedup → extract/enrich → partitioned write →
    * manifest commit), keyed by the streaming batchId. This is the
    * recommended Structured-Streaming exactly-once recipe: foreachBatch
    * replays a batchId on failure, and Pipeline.run's manifest makes that
    * replay a no-op (committed batchId short-circuits) while a crash
    * mid-batch leaves only orphan files the rerun deletes — so the sink is
    * exactly-once end-to-end, with the same per-partition lineage/audit
    * trail as the batch path (O31/O35).
    */
  def routeQuery(spark: SparkSession, inDir: String, outDir: String,
                 checkpoint: String): StreamingQuery = {
    val cfg = graft.alco.Pipeline.Config()
    source(spark, inDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // writerId = the checkpoint location: stable across restarts of the
        // SAME query lineage (replayed batchIds stay idempotent), distinct
        // for a fresh checkpoint whose batchIds restart at 0.
        graft.alco.Pipeline.run(spark, batch, outDir, cfg, batchId,
          writerId = checkpoint)
        (): Unit
      }
      .start()
  }

  /** Windowed streaming rollup (1-day tumbling, watermarked) — alco's
    * incremental Redis counters as a stateful streaming aggregate.
    *
    * Production shape (verdict r3, "what's wrong #3"): `update` output mode
    * + a foreachBatch UPSERT into a versioned parquet rollup table. Each
    * trigger ships only the (tool, role, window) rows whose counts CHANGED —
    * driver traffic is bounded by sinks × touched windows per trigger, never
    * the full window state (the old complete+memory demo collected ALL
    * windows' state to the driver every trigger, which is driver-bound at
    * scale; the memory sink now survives only inside StreamingSpec).
    * Streaming state stays bounded by the watermark horizon — and unlike
    * the complete-mode demo, the watermark now actually DROPS rows later
    * than `horizon` (update mode evicts closed windows from state): within
    * the horizon the stream equals the batch rollup exactly
    * (StreamingSpec); beyond it the batch recompute stays the equality
    * path, the documented O32 divergence.
    */
  def rollupQuery(spark: SparkSession, inDir: String, outDir: String,
                  checkpoint: String, horizon: String = "1 day"): StreamingQuery = {
    val (ok, _) = Parse.splitQuarantine(Parse.stage(source(spark, inDir)))
    ok.withWatermark("ts", horizon)
      .groupBy(col("tool"), col("role"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("tool"), col("role"),
        col("window.start").as("window_start"), col("n"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (updates: DataFrame, batchId: Long) =>
        upsertRollup(updates, outDir, batchId)
        (): Unit
      }
      .start()
  }

  /** Copy-on-write upsert of changed rollup rows: carry forward current
    * rows whose key is untouched, take the update's count for touched keys,
    * write the merged table as a NEW version dir `v-<batchId>` (readers
    * resolve the highest version with a _SUCCESS marker — the same
    * versioned-snapshot pattern as the batch manifest, so a crash mid-write
    * never corrupts the readable table, and a foreachBatch REPLAY of the
    * same batchId just rewrites its own version). The table is bounded by
    * sinks × days, so the rewrite is metadata-scale, not data-scale.
    */
  private[streaming] def upsertRollup(updates: DataFrame, outDir: String,
                                      batchId: Long): Unit = {
    val spark = updates.sparkSession
    // merge against the highest version STRICTLY BELOW this batchId, not
    // the latest: a foreachBatch REPLAY of batch B (crash between the sink
    // write of v-B and the checkpoint commit) must re-derive v-B from its
    // original base — reading v-B while overwriting v-B throws
    // "Cannot overwrite a path that is also being read from" and wedges
    // the stream on every restart. The anti-join keys are NULL-SAFE (<=>):
    // tool may legitimately be null, and null-unsafe equality would carry
    // the stale null-tool row forward AND union the update (duplicate key).
    val merged = readRollupVersion(spark, outDir, beforeId = Some(batchId)) match {
      case Some(cur) =>
        val u = updates.select("tool", "role", "window_start")
        cur.join(u,
            cur("tool") <=> u("tool") && cur("role") <=> u("role") &&
              cur("window_start") <=> u("window_start"),
            "left_anti")
          .unionByName(updates)
      case None => updates
    }
    TableWrite(merged.coalesce(1), s"$outDir/v-$batchId", SaveMode.Overwrite)
    vacuumRollupVersions(outDir, batchId)
  }

  /** Versions a long-running stream no longer needs are deleted after each
    * successful write — one full table copy per trigger otherwise
    * accumulates without bound (ADVICE r4, low; the same small-file leak
    * class Compact fixes for the routed table). `keep` trailing versions
    * below the just-written one stay for replay safety: a foreachBatch
    * replay of batch B re-derives v-B from the highest version < B, so
    * that merge base must survive at least until B's checkpoint commits;
    * anything older is unreachable (readers take the highest version).
    */
  private def vacuumRollupVersions(outDir: String, batchId: Long,
                                   keep: Int = 2): Unit = {
    val root = new java.io.File(outDir)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("v-"))
      .flatMap(d => scala.util.Try(
        d.getName.stripPrefix("v-").toLong -> d).toOption)
      .filter { case (id, _) => id < batchId }
      .sortBy(-_._1)
      .drop(keep)
      .foreach { case (_, d) =>
        org.apache.commons.io.FileUtils.deleteQuietly(d): Unit
      }
  }

  /** Latest committed rollup version (highest v-<id> dir with _SUCCESS). */
  def readRollup(spark: SparkSession, outDir: String): Option[DataFrame] =
    readRollupVersion(spark, outDir, beforeId = None)

  private def readRollupVersion(spark: SparkSession, outDir: String,
                                beforeId: Option[Long]): Option[DataFrame] = {
    val root = new java.io.File(outDir)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("v-") &&
        new java.io.File(d, "_SUCCESS").exists())
      .map(d => d.getName.stripPrefix("v-").toLong -> d)
      .filter { case (id, _) => beforeId.forall(id < _) }
      .sortBy(_._1)
      .lastOption
      .map { case (_, d) => TableRead(spark, Seq(d.getAbsolutePath)) }
  }
}
