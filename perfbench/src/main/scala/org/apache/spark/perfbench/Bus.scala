package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus, so the traced run reads
  * its listener's counts only after every queued event was delivered. */
object Bus {
  def drain(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
