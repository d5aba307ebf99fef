package org.apache.spark

/** Blocks until every event posted so far has reached the listeners — the
  * listener bus is asynchronous and its drain is package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
