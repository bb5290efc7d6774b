package org.apache.spark.graftperfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so the
  * traced run can attribute listener figures to the operation that caused
  * them. The listener bus is `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
