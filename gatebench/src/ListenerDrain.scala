package org.apache.spark

/** Waits until the listener bus delivered every posted event, so the
  * benchmark's job counts are complete before it reads them.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
