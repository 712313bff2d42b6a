package org.apache.spark

/** Lets the traced run wait for Spark's asynchronous listener bus: an
  * operation's jobs, tasks and query events must all be delivered
  * before its spans are closed, or they would be charged to the next
  * operation. The bus's drain is private to the `spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
