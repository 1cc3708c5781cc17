package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; the traced run needs it so
  * every job and task event has arrived before the run's numbers are read. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
