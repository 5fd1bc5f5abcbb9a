package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event already posted to the listener bus has been
  * delivered, so listener totals read after a traced pass are complete.
  * Lives in the `org.apache.spark` package because the bus is
  * `private[spark]`.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
