package org.apache.spark

/** Lets a test wait until every queued listener event has been delivered
  * (`LiveListenerBus.waitUntilEmpty` is package-private). */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
