package org.apache.spark

/** Test access to the `private[spark]` listener bus. */
object ListenerBusShim {
  /** Waits until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
