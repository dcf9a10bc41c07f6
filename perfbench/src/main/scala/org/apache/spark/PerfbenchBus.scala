package org.apache.spark

/** The one private Spark call the benchmark's trace needs: listener
  * events arrive asynchronously, so per-round counters are read only
  * after the bus has delivered every event posted so far. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
