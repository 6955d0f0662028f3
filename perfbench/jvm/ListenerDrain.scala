package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * traced operation's counters are complete before they are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
