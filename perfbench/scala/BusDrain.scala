package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * layer listeners have seen all jobs, tasks and query executions of the
  * query that just finished. `listenerBus` is package-private to Spark,
  * hence this one-line bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
