package org.apache.spark

/** Specs that count listener events drain the context's listener bus
  * (which Spark keeps `private[spark]`) before reading their counts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
