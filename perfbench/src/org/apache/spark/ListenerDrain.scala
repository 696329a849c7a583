package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read right after an action include that action's jobs and queries.
  * Lives in this package because the listener bus is `private[spark]`.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
