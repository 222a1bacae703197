package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus, so a listener's view can be
  * read only after every posted event reached it. Lives under
  * org.apache.spark solely for access; contains no Spark-internal logic.
  */
object ListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
