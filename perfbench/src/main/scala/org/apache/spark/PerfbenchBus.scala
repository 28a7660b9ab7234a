package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered. Listener counters are read only after this, so a counter
  * snapshot covers all the work that finished before it. The bus is
  * package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
