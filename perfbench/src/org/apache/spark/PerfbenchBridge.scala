package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run
  * needs it once, before it reads its counters. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
