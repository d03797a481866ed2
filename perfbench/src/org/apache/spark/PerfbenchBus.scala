package org.apache.spark

/** Listener-bus access the public API lacks: block until every queued
  * event has been delivered, so task metrics and streaming progress are
  * complete before the benchmark reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
