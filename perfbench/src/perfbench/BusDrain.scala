package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * harness listeners have seen all jobs of a measured window.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
