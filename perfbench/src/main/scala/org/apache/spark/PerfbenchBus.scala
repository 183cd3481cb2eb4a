package org.apache.spark

/** Listener events arrive asynchronously; the traced run waits for the bus
  * to drain after each operation so that every job of the operation is
  * attributed to it. The bus is package-private, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
