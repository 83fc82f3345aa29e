package org.apache.spark

/** Listener events are delivered asynchronously; a spec that counts
  * them waits for the bus to drain before it reads its counts. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
