package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark hands a finished query to its execution listeners through fields
  * of this event that it keeps package-private. Reading them here ties the
  * query to its execution id, and so to the job group it ran under.
  */
object SqlBridge {
  /** The query of a successful execution. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (e.executionFailure.isEmpty) Option(e.qe) else None
}
