package org.apache.spark

/** Waits until every posted listener event has been delivered, so a traced
  * run's counters are complete before they are read. */
object BenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
