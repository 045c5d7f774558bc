package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all of a run's jobs before it sums. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
