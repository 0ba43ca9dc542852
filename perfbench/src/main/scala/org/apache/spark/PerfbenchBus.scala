package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * an iteration's counters are complete before they are read. The bus
  * is package-private; this is the one call the benchmark needs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
