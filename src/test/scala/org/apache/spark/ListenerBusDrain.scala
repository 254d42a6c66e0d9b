package org.apache.spark

/** Test hook into the private listener bus: block until every event
  * posted so far has been delivered, so a listener's counts are final
  * without guessing a sleep. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
