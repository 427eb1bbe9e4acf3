package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]` — same bridge pattern
  * as [[ColumnBridge]]. Draining the bus delivers every event posted so
  * far to the listeners without running a Spark job.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
