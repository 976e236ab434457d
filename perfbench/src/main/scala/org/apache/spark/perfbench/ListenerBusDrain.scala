package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus is asynchronous and its `waitUntilEmpty` is
  * package-private. The harness drains it before opening and before
  * closing each query's span, so that every job, task, block and
  * query-execution event lands on the query that caused it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
