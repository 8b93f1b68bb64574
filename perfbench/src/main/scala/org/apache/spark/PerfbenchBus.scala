package org.apache.spark

/** Listener-bus drain for the benchmark's metric reads. Spark delivers
  * listener events asynchronously; counters read at a pass boundary are
  * exact only once the bus has caught up. `waitUntilEmpty` is
  * package-private, hence this one-line shim in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
