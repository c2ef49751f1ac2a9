package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: specs that count events
  * with a SparkListener drain the bus before reading their counters
  * instead of sleeping on it. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
