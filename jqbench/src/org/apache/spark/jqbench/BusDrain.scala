package org.apache.spark.jqbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus, so a listener's counters are
  * read only after every event posted so far has been delivered. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
