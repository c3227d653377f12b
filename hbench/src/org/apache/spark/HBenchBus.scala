package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the traced run can attribute listener records to the operation that
  * just finished. Lives in this package because the bus is
  * package-private. */
object HBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
