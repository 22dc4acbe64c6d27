package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so listener counts read right after an action include all of its
  * tasks. The bus is internal to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
