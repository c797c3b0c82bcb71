package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so a
  * traced pass's counts are complete before they are read. The bus is
  * package-private to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
