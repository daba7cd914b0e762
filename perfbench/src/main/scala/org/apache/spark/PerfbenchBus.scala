package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered (`LiveListenerBus.waitUntilEmpty` is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
