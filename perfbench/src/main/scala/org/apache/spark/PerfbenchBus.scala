package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so that a
  * listener's view of a finished unit of work is complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
