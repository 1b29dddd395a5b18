package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * counters a [[org.apache.spark.scheduler.SparkListener]] accumulated
  * for a finished call are complete before they are read. The bus is
  * `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
