package org.apache.spark.sql.layerbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the trace needs; everything else
  * it uses is public listener API.
  */
object SparkBridge {
  /** Blocks until every queued listener event has been delivered, so the
    * trace can be resolved after the last span closes.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The QueryExecution id behind an execution-end event: a
    * QueryExecutionListener sees the QueryExecution, while jobs and
    * execution-start events carry the execution id.
    */
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
