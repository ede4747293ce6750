package org.apache.spark

/** Listener-bus access for the benchmark's per-operation attribution:
  * Spark delivers listener events asynchronously, so counters read
  * right after an operation can miss its last tasks unless the bus is
  * drained first. `listenerBus` is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
