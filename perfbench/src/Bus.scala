package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; draining it before reading the
  * listener's totals makes them complete. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
