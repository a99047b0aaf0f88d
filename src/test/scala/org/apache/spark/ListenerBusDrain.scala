package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`. */
object ListenerBusDrain {

  /** Blocks until every event posted so far has reached its listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
