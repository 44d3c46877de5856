package org.apache.spark

/** Test access to the listener bus drain: listener events are delivered
  * asynchronously, so a counter read right after an action can miss
  * that action's jobs and tasks. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
