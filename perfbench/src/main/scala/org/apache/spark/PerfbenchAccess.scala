package org.apache.spark

/** The one package-private Spark hook the benchmark needs: block until
  * every listener event posted so far has been delivered, so per-request
  * job/task counts are complete when they are read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
