package org.apache.spark

/** The listener bus is asynchronous; its drain call is package-private.
  * The benchmark waits for it before reading listener counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
