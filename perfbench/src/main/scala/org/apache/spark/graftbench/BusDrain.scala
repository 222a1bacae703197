package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this bridge lets the bench wait
  * until every posted event has reached its listeners before it reads them.
  */
object BusDrain {
  val TimeoutMs = 60000L

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(TimeoutMs)
}
