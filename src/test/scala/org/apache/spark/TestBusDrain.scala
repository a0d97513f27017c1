package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * spec's listener has seen every job its code submitted. The bus is
  * internal to Spark, hence this accessor in Spark's package.
  */
object TestBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
