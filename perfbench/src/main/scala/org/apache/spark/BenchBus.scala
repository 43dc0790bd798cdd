package org.apache.spark

/** Lets the benchmark wait until every posted listener event is delivered,
  * so the metrics read after a traced call belong to that call alone.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
