package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access shim for the `private[spark]` listener bus: the benchmark reads
  * its listener counters only after every event of an action has been
  * delivered, so each op's counts are exact rather than racing the bus.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
