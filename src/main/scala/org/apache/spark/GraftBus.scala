package org.apache.spark

/** The listener bus is asynchronous; `graft.Probe` waits for it to drain
  * before it reads the events it recorded. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
