package org.apache.spark

/** Waits until every queued listener event has been delivered, so a spec
  * that counts jobs through a listener, or reads the status tracker, sees
  * every event posted before the call. The bus is Spark-internal, hence
  * this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
