package org.apache.spark

/** Access to the listener bus for the benchmark's tracing: waits until
  * every event posted so far has reached the listeners.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
