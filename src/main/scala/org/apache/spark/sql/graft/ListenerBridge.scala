package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus flush — lets
  * `graft.obs.Meter` deliver every pending event before it reports,
  * instead of sleeping. Same access-package pattern as [[ColumnBridge]].
  */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
