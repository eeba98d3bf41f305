package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec reads a listener's counts only after the jobs it ran reported. The
  * bus is `private[spark]`, hence this bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
