package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this bridge lets a spec wait
  * until every posted event reached its listeners before it reads what
  * they recorded.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
