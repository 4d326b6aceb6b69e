package org.apache.spark

/** The listener bus is private to Spark; the tracer must wait for it to
  * deliver every queued event before it reads what its listeners saw. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
