package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The
  * bus's drain is package-private; the benchmark reads its listener's
  * sums only after every event has arrived. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
