package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the traced
 *  run drains it before reading its listener's totals. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
