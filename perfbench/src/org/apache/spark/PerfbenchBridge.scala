package org.apache.spark

/** The one engine-internal hook the benchmark needs: wait until every
  * queued listener event has been delivered, so the trace read after an
  * action holds all of that action's jobs, stages and tasks. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
