package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]` (hence this
  * namespace, as for [[GraftMetricsSource]]). */
object GraftBus {

  /** Block until every listener queue has delivered every event posted
    * before the call. Throws `TimeoutException` after 60 s, not Spark's
    * default 10 s, which a loaded machine can exceed. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
