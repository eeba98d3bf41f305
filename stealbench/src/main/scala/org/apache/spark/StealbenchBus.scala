package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * span closes only after its jobs' metrics arrived. The bus is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object StealbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
