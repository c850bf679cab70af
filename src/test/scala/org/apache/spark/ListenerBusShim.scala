package org.apache.spark

/** Lets a spec wait until every queued listener event has been delivered
  * before it reads what a listener recorded. The listener bus is
  * package-private to Spark.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
