package org.apache.spark

/** Reaches the `private[spark]` listener bus so the trace is read only
  * after every event of the run has been delivered.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
