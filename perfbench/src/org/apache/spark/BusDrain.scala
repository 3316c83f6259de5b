package org.apache.spark

/** Reaches the package-private listener bus so the benchmark can wait for
  * every posted event to be delivered before it reads listener-fed
  * metrics; reading earlier silently drops the tail of the run. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
