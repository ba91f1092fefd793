package org.apache.spark

/** The one Spark-internal call the benchmark's traced run needs: wait
  * until every listener event has been delivered, so per-call task
  * counters are complete before they are read. */
object LshBenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
