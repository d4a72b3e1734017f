package org.apache.spark.sql.execution.ui

import org.apache.spark.sql.execution.QueryExecution

/** The query an SQL-execution-end event carries. The field is private to
  * Spark's SQL package, hence this package. */
object PerfbenchSqlExecution {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
