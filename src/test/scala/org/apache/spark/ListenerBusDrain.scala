package org.apache.spark

/** Test access to the driver's listener bus, whose drain is
  * package-private. */
object ListenerBusDrain {
  /** Returns once every event posted so far has reached every listener,
    * the status store's included. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
