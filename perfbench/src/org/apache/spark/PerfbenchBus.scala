package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's records are complete before the benchmark reads them.
  * Lives in Spark's package because the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
