package org.apache.spark

/** The one Spark-internal call the harness needs: wait until the
  * listener bus has delivered every queued event, so job, stage and
  * SQL records are complete before the traced run dumps them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
