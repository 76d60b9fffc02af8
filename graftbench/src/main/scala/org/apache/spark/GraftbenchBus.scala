package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counts read right after an action include that action's tasks. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
