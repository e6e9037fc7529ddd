package org.apache.spark.rdd

import org.apache.spark.SparkContext

/** Package-injection shim (same public technique as sql.graftbridge
  * .ColumnBridge): RDD.isLocallyCheckpointed is private[rdd], and
  * graft.plans.SessionCaches needs it to distinguish checkpoint-product
  * RDDs (safe for memo eviction to unpersist) from caller-persisted
  * inputs (not ours to touch). The listener bus is private[spark]:
  * waiting for it to empty delivers every event of a finished action to
  * graft.plans.Metrics' listener without a fixed sleep. */
object GraftRddBridge {
  def isLocallyCheckpointed(r: RDD[_]): Boolean = r.isLocallyCheckpointed

  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
