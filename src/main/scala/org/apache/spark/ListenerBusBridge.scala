package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is `private[spark]`, hence this bridge in Spark's package. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
