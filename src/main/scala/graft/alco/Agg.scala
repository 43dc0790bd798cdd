package graft.alco

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Aggregate stage (SURVEY.md O21/O22/O23/O33): the rollups alco maintained
  * incrementally in Redis, rebuilt as exact Spark aggregations with map-side
  * partial aggregation (`HashAggregateExec` partial+final — no custom UDAF
  * needed).
  */
object Agg {

  /** Per-(tool, role) per-1-day-window counts — alco's per-index/
    * per-interval count rollups (D7), the primary equality-checked output
    * (BASELINE.json north_rule).
    */
  def rollupCounts(routed: DataFrame): DataFrame =
    routed
      .groupBy(col("tool"), col("role"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("tool"), col("role"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"))

  /** Distinct-value sets per sink × filtered column — alco's Redis SADD
    * caches (D6). Values sorted for deterministic equality. The explode is
    * bounded: k filtered columns per row; cardinality of the collect_set is
    * bounded by the dims' value space (low), so the state never explodes at
    * 10^12 rows.
    */
  def distinctSets(routed: DataFrame,
                   columns: Seq[String] = Seq("role", "called_tool", "status")): DataFrame = {
    val kvs = columns.flatMap(c => Seq(lit(c), col(c).cast("string")))
    routed
      .select(concat_ws("/", col("tool"), col("role")).as("sink_key"),
        explode(map(kvs: _*)).as(Seq("column", "value")))
      .filter(col("value").isNotNull)
      .groupBy(col("sink_key"), col("column"))
      .agg(sort_array(collect_set(col("value"))).as("values"))
  }

  /** Pagination total (alco: Sphinx `total_found` bounded by max_matches). */
  def matchCount(filtered: DataFrame, maxMatches: Option[Int] = None): Long =
    maxMatches.map(m => filtered.limit(m).count()).getOrElse(filtered.count())
}
