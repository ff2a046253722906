package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced operation's jobs, tasks and query executions are all counted
  * before the benchmark reads its listeners. Lives in this package only
  * because `SparkContext.listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
