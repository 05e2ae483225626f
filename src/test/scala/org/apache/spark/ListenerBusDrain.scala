package org.apache.spark

/** Specs that count listener events need every posted event delivered
  * first; the listener bus is package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
