package org.apache.spark

/** The one package-private hook the traced run needs: block until the
  * listener bus has delivered every event posted so far, so a run's
  * job, block and write events are all in before its spans are cut. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
