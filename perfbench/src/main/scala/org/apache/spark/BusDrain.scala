package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. Spark delivers listener
  * events asynchronously, so counts read right after an action returns can
  * miss that action's events; `waitUntilEmpty` is package-private, hence
  * this shim in Spark's own package. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
