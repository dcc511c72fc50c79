package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read at a pass boundary include that pass's jobs and tasks.
  * The bus is package-private to Spark; this one call is all the benchmark
  * needs from inside the package.
  */
object XbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
