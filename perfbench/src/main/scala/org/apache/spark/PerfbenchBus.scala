package org.apache.spark

/** The one package-private call the benchmark needs: listener events
  * (job, task, streaming progress, query execution) are delivered
  * asynchronously, so per-run counters are read only after the bus has
  * drained.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
