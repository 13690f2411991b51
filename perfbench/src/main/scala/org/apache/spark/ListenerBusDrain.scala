package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read after a pass include the pass's last events. The bus is internal
  * to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
