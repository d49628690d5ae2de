package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete per-pass Spark counters. The listener bus is
  * package-private, hence this one-method bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
