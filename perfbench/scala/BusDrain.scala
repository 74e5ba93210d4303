package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this bridge lets the benchmark
  * wait until every posted event reached its listener before it reads
  * the job records.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
