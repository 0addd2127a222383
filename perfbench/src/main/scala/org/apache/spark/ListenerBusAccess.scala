package org.apache.spark

/** The listener bus is asynchronous; the benchmark reads its listeners only
  * after every posted event has been delivered. `listenerBus` is
  * package-private to Spark, hence this file's package. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
