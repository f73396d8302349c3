package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The benchmark's one reach into `private[sql]`: the query execution an
  * SQL-execution-end event carries, so plan shape can be read for every
  * execution id the jobs point at. */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
