package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Package-placed shim: the listener bus is private[spark]. Waiting for it
  * to empty makes every task event of a finished action visible to the
  * benchmark's listener without a fixed sleep. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
