package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after every event posted so far has been handled.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
