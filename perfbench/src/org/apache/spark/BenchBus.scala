package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * counters read right after an action include that action's jobs. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
