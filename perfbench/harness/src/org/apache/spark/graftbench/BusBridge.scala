package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus, so a run can wait for every
  * listener event before it reads its ledger.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
