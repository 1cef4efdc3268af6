package org.apache.spark

/** The one Spark-internal hook the benchmark needs: waiting until every
  * posted listener event has been delivered. `SparkContext.listenerBus`
  * is `private[spark]`, hence this file's package.
  */
object PerfbenchBus {
  /** Blocks until all listener queues are empty; throws a
    * `TimeoutException` if they do not drain within `timeoutMs`.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
