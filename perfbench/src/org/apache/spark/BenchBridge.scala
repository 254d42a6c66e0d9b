package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until the
  * listener bus has delivered every event posted so far. After a query's
  * action returns, this makes the per-layer listener's counts final
  * without guessing a sleep. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
