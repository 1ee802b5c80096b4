package org.apache.spark

/** Listener events are delivered asynchronously; specs that count
  * events read their counters only after every event posted so far has
  * been handled.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
