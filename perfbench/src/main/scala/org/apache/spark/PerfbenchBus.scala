package org.apache.spark

/** The one non-public hook the benchmark uses: waiting until Spark's
  * listener bus has delivered every event posted so far, so a traced
  * request's counters are read only after all its events arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
