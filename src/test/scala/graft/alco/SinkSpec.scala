package graft.alco

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SinkSpec extends SparkSpec {
  import spark.implicits._

  test("retention expires old day partitions manifest-first, re-ingest unblocked") {
    val out = tmpDir("sink_retention")
    Pipeline.run(spark, Gen.turns(spark, 5000L).toDF(), out,
      Pipeline.Config())
    val routed = s"$out/routed"
    val before = Manifest.committedPartitions(routed)
    val days = before.map(_.split("day=")(1)).toSeq.sorted
    assert(days.distinct.size >= 3)
    val cutoff = days.distinct.apply(1) // expire the oldest day only

    val expired = Sink.expireDayPartitions(routed, cutoff, batchId = 99L)
    assert(expired.nonEmpty && expired.forall(_.contains(s"day=${days.head}")))
    // manifest no longer contains expired partitions
    val after = Manifest.committedPartitions(routed)
    assert(after == before -- expired)
    // data gone: no row older than cutoff remains
    val remaining = spark.read.parquet(routed)
      .filter(col("day") < lit(cutoff).cast("date")).count()
    assert(remaining == 0L)
    // expired days can be re-ingested (their commit entries are gone)
    val r = Pipeline.run(spark, Gen.turns(spark, 5000L).toDF(), out,
      Pipeline.Config(), batchId = 100L)
    assert(r.routedRows > 0)
    assert(spark.read.parquet(routed)
      .filter(col("day") < lit(cutoff).cast("date")).count() > 0)
  }

  test("ensureTable is idempotent DDL") {
    val root = tmpDir("sink_ddl")
    val p1 = Sink.ensureTable(root, Sink.registry.head)
    val p2 = Sink.ensureTable(root, Sink.registry.head)
    assert(p1 == p2 && new java.io.File(s"$p1/_manifest").isDirectory)
  }
}
