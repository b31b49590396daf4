package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * bench's listener has seen all task and job ends before it reports. The
  * bus is internal to Spark; this is the one place the bench reaches it. */
object BusDrain {
  def await(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
