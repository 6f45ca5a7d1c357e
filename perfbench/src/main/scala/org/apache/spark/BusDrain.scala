package org.apache.spark

/** Blocks until every event posted so far has reached its listeners.
  * The listener bus is asynchronous, so a counter read right after an
  * action returns can miss that action's last task and job events; the
  * bus's drain call is package-private, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
