package org.apache.spark

/** The one Spark-internal call the harness needs: block until every event
  * already posted to the listener bus has been delivered, so per-pass
  * counters are read after the pass's last task and job events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
