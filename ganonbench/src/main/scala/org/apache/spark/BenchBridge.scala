package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * tracer drains it before reading the task metrics its listener folded. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
