package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: wait until every
  * queued listener event has been delivered, so events can be attributed
  * to the operation that caused them. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
