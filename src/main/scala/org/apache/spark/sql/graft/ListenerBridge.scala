package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `SparkContext.listenerBus` is `private[spark]` — same bridge pattern
  * as [[ColumnBridge]]. Draining the bus delivers every event posted so
  * far to the listeners without running a Spark job.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `run`'s result and the (action name, executed query) of every
    * Dataset action it ran, in completion order. An operator that
    * answers with a local relation built by earlier Spark passes (the
    * IVFPQ serve core) shows its scans and exchanges only there. */
  def withQueries[T](spark: SparkSession)(run: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add((f, qe))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = run
      drain(spark.sparkContext)
      (out, seen.toArray(Array.empty[(String, QueryExecution)]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
