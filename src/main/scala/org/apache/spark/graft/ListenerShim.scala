package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this shim lives in the
  * spark package namespace (the standard pattern for measurement utilities)
  * to expose the deterministic drain [[graft.runner.Measure]]'s counters
  * need. A fixed `Thread.sleep` drain under-counts on a loaded host;
  * `waitUntilEmpty` blocks until every queued listener event — including
  * the task-end events carrying the shuffle/CPU metrics — has been
  * dispatched, making the counters exact by construction. The bounded
  * overload waits up to 120 s: the no-arg call gives up after ~10 s and
  * throws, which aborts a measurement on a loaded host. */
object ListenerShim {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(120000L)
}
