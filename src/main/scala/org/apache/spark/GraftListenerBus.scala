package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The listener bus is package-private: graft posts its own span events
  * on it and waits until every posted event has been delivered before
  * it reads a listener's sums. */
object GraftListenerBus {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
