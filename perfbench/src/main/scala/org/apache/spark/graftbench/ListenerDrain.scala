package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. Before the benchmark
  * reads what its listener collected it waits until every event posted so
  * far has been delivered; the wait is only reachable from this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
