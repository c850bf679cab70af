package org.apache.spark

/** Lets the benchmark wait until every queued listener event (jobs, SQL
  * executions, streaming progress) has been delivered before it reads its
  * trace. The listener bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
