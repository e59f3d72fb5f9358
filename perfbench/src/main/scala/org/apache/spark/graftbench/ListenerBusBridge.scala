package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; its drain is
  * `private[spark]`. The benchmark reads its listener's counters only after
  * this returns, so no job or task event is still in flight.
  */
object ListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
