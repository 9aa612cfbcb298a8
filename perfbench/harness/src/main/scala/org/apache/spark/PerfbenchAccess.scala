package org.apache.spark

/** The one package-private Spark hook the traced run needs: listener
  * events are delivered asynchronously, so before the harness reads its
  * counters it waits until every posted event has been handled. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
