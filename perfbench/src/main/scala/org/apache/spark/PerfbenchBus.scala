package org.apache.spark

/** The one non-public Spark call the benchmark makes: block until every
  * listener queue has delivered its events, so counters read after a
  * call are complete without sleeping. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
