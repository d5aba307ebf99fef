package org.apache.spark

/** The active SparkContext and its listener bus, package-private, for graft.Telemetry. */
object TelemetryBus {
  def active: Option[SparkContext] = SparkContext.getActive
  def post(sc: SparkContext, e: scheduler.SparkListenerEvent): Unit = sc.listenerBus.post(e)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
