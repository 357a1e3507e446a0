package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private; the benchmark needs it
  * only to wait until every queued event has reached its listeners before
  * it reads their counters.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
