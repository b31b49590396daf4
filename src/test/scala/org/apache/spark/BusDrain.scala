package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's listener has seen all job and task ends before it asserts. The
  * bus is internal to Spark; this is the one place the specs reach it. */
object BusDrain {
  def await(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
