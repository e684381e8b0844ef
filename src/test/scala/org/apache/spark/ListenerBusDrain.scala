package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener counts are complete before they are read. Lives in
  * this package because the bus is Spark-private. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
