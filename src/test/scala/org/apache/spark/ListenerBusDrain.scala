package org.apache.spark

/** Blocks until every event posted to the listener bus has been
  * delivered, so a spec can read what its listeners counted. The bus is
  * private to Spark; this object lives in its package to reach it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
