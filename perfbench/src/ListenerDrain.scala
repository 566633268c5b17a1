package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read after a traced run are complete. The bus is Spark-internal, hence
  * this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
