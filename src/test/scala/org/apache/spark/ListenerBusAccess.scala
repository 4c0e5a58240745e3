package org.apache.spark

/** Test access to the context's listener bus: a listener's counts are
  * only complete once the bus has delivered every posted event. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
