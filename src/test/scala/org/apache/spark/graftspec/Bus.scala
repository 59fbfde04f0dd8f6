package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener has seen every job the code under test ran. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
