package org.apache.spark

/** Drains Spark's listener bus so counters read after a phase include every
  * event that phase posted. `waitUntilEmpty` is `private[spark]`; this is the
  * only reason the benchmark has a file in this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
