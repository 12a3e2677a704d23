package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`, hence this package.
  * Drains with the bounded overload: the no-arg `waitUntilEmpty()` gives up
  * after a fixed ~10 s and throws, which aborts a measurement on a loaded
  * host instead of waiting for the counters to settle. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMillis: Long = 120000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
