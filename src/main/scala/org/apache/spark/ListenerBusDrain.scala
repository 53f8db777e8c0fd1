package org.apache.spark

/** Bridge to the listener bus, which is `private[spark]`: listener
  * events arrive asynchronously, so code that reads what a listener saw
  * (Bench's per-query snapshot, a spec's assertion) drains the bus first.
  * Throws `java.util.concurrent.TimeoutException` past `timeoutMs`. */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
