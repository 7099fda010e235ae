package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a traced pass is snapshotted only after its job,
  * query-execution and streaming events have all been counted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
