package org.apache.spark

/** The one Spark-internal the tracer needs: the listener bus delivers
  * events asynchronously, so per-pass counters are read only after it has
  * drained. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
