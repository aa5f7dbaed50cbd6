package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: a spec that reads
  * what a listener recorded drains the bus first instead of polling.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
