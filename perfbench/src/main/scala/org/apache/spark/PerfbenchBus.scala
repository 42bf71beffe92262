package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs, tasks and query executions
  * that finished before it reads them. `listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
