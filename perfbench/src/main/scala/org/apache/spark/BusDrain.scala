package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * metrics read right after an action are complete. The bus is
  * package-private to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
