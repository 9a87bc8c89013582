package org.apache.spark

/** Waits until every posted listener event has been delivered. The harness
  * reads its job, stage and streaming counters only after this returns, so
  * no event of a finished operation is still in flight.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
