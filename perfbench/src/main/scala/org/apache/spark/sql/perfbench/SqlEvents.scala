package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries. It is the one
  * QueryExecutionListeners receive, but here it comes with the execution
  * id that links it to its jobs. The field is package-private to Spark
  * SQL, hence this shim's package.
  */
object SqlEvents {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
