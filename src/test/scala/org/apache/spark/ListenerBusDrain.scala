package org.apache.spark

/** Test-side bridge to the listener bus, which is `private[spark]`:
  * listener events arrive asynchronously, so a spec that asserts on what
  * a listener saw drains the bus first. */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
