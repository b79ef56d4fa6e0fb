package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark's
  * tracer needs it to read complete task metrics when a run ends.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
