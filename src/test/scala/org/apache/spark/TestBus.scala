package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * listener read right after an action has seen that action's jobs. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
