package org.apache.spark

/** Lets the benchmark wait until every queued listener event (jobs, tasks,
  * SQL executions, streaming progress) has been delivered before it reads
  * the counters the listeners keep. The listener bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
