package org.apache.spark

/** Blocks until every posted listener event has been delivered, so
  * counters read after a timed region include all of its events. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
