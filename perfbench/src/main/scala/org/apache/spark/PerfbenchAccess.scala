package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every queued
  * listener event has been delivered, so counters read right after an action
  * include that action's jobs, stages and tasks.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
