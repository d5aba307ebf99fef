package org.apache.spark

/** The listener bus is package-private; the traced run needs to wait for it
  * to drain before it reads the counters its listener collected.
  */
object ChainbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
