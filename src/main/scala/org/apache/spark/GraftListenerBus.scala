package org.apache.spark

/** `listenerBus` is `private[spark]`: block until every listener queue
  * has delivered its events, so counters read afterwards are complete. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
