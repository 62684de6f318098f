package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries is package-private;
  * the traced run uses it to tie each query-execution callback to the
  * execution id, and so to the job group, it ran under. */
object PerfBenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
