package org.apache.spark

/** The one scheduler internal the engine's job counts need: waiting until
  * every posted listener event has been delivered. Listener events arrive
  * asynchronously, so a count read right after an action may miss its last
  * jobs; after this call it holds every event posted before it. */
object EngineAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
