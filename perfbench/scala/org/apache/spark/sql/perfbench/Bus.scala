package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

object Bus {
  /** Wait until every listener event posted so far has been delivered, so
    * the per-op job, stage, task and query-execution figures are complete
    * before the benchmark reads them (the listener bus is asynchronous).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** (execution id, query execution) of a finished SQL execution. */
  def executionEnd(e: SparkListenerEvent): Option[(Long, QueryExecution)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null => Some((end.executionId, end.qe))
    case _ => None
  }
}
