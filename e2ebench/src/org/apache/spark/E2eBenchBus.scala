package org.apache.spark

/** The listener bus drain is package-private to Spark; the tracer needs it
  * so that every task-end event of a finished span has been delivered
  * before the span's counters are read. */
object E2eBenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
