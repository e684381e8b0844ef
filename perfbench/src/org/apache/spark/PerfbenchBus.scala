package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced op's counters are complete before the next op starts. Lives in
  * this package because the bus is Spark-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
