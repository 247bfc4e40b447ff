package org.apache.spark

/** The benchmark reads its listener's totals right after an action returns;
  * task-end events are delivered asynchronously, so it first waits for the
  * listener bus to drain. The bus is package-private to Spark. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
