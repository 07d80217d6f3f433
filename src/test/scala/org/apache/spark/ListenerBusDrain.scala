package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * test listener has seen every job started so far. `listenerBus` is
  * package-private to Spark, hence this bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
