package org.apache.spark

/** Test access to the (package-private) listener bus: blocks until every
  * event posted so far has reached its listeners, so task metrics a
  * listener sums after an action are complete, with no sleep.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
