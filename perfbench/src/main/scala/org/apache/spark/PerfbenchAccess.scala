package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * posted listener event has been delivered, so a traced job's stages are
  * all recorded before its spans are read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
