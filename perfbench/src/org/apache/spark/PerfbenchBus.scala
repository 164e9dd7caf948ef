package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains the bus after each op span so that every stage,
  * task and query-execution event of the span has been delivered before
  * the span's figures are summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
