package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait for
  * it before it reads the task log, so this one call lives in Spark's
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
