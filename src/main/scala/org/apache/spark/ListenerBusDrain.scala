package org.apache.spark

/** Code that counts listener events (`graft.tools.TimeMany`, the specs)
  * drains the context's listener bus, which Spark keeps
  * `private[spark]`, before reading its counts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
