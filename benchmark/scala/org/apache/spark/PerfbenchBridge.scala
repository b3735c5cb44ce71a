package org.apache.spark

/** The one Spark-internal call the benchmark harness needs: wait until the
  * listener bus has delivered every queued event, so per-query job, stage
  * and task records are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
