package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * posted listener event has been delivered, so a pass's jobs and
  * stages are all recorded before they are summed.
  */
object E2eBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
