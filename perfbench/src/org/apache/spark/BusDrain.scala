package org.apache.spark

/** Waits until the asynchronous listener bus has delivered every event
  * posted so far, so the benchmark's listeners have seen all jobs of a
  * finished action before their totals are read. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
