package org.apache.spark

/** Test access to the listener bus: waits until every posted event has
  * reached the registered listeners, so job counts read after an action
  * are complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
