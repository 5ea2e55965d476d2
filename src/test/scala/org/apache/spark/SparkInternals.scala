package org.apache.spark

import org.apache.spark.rdd.RDD

/** Test hooks into package-private Spark state. */
object SparkInternals {
  /** Block until every event posted so far has reached its listeners, so
    * a spec can assert on what a `QueryExecutionListener` saw in a run. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The user call site that created `rdd`, e.g.
    * "localCheckpoint at RunPipeline.scala:130". */
  def creationSite(rdd: RDD[_]): String = rdd.getCreationSite
}
