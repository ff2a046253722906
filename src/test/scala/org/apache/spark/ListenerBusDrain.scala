package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event, so
  * a test's `SparkListener` has seen all jobs and stages of the code under
  * test before it asserts. Lives in this package only because
  * `SparkContext.listenerBus` is package-private. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
