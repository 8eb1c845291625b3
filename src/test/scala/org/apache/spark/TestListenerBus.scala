package org.apache.spark

/** Test access to the listener bus: events are delivered asynchronously,
  * so a listener's view is complete only after the bus has drained.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
