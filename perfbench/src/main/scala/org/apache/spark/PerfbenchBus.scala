package org.apache.spark

/** The listener bus is asynchronous; the benchmark waits for it to drain
  * before it reads the events it recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
