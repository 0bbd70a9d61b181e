package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * span's counters are complete before they are read. The bus is
  * `private[spark]`, hence this one-line shim in Spark's package. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
