package org.apache.spark

/** The one scheduler internal the traced run needs: waiting until every
  * posted listener event has been delivered, so the last op's job and task
  * events are counted before the trace is written. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
