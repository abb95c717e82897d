package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so listener totals read after a job are complete. The bus is
  * `private[spark]`, hence this package. */
object FirebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
