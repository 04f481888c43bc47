package org.apache.spark

/** Waits until every queued listener event has been delivered, so a test
  * reads complete listener counts. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
