package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a window of counters is
  * only complete once the bus has delivered everything posted so far.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
