package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a traced
  * operation's job, task and query records are all in before recording
  * stops. The bus is private to Spark, hence this package. */
object PerfbenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
