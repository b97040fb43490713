package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read after a window include its last tasks (the bus is package-private). */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
