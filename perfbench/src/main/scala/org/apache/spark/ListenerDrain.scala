package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * counters read after an op include all of its jobs. The bus is
  * private to Spark; this object lives in Spark's package to reach it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
