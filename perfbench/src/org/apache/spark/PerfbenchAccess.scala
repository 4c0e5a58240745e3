package org.apache.spark

/** The one package-private Spark hook the benchmark needs: waiting until
  * the listener bus has delivered every queued event, so per-operation
  * counters are complete before they are read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
