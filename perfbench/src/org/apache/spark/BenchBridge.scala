package org.apache.spark

/** Access to `SparkContext.listenerBus` (private[spark]): the traced run
  * waits for the asynchronous listener bus to deliver every job and task
  * event of an operation before it reads the listener's counters. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
