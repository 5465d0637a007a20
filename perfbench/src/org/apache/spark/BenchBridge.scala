package org.apache.spark

/** The one engine-private call the benchmark needs: listener events
  * are delivered asynchronously, so the runner drains the bus after
  * each operation, before the tracer reads what the operation produced
  * and before the next operation starts.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
