package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads complete listener totals after its timed section. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
