package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; tests that count
  * jobs or SQL executions with a listener wait for it to drain.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
