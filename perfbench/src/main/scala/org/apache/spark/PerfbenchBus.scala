package org.apache.spark

/** Blocks until every posted listener event has been delivered, so the
  * trace's counters are complete when a pass is read out. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
