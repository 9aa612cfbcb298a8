package org.apache.spark

/** Spark's listener bus is package-private; listener events arrive
  * asynchronously, so a reader of listener counters first waits here
  * until every posted event is delivered, at most `ms`. False on timeout. */
object GraftListenerBus {
  def drain(sc: SparkContext, ms: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(ms); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
