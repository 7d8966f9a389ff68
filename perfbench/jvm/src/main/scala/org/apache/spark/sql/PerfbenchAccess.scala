package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals a traced run needs, reachable only from Spark's own
  * packages: draining the asynchronous listener bus before the recorded
  * events are read, and the QueryExecution an execution-end event carries
  * (it links a QueryExecutionListener callback to the SQL execution id that
  * the jobs, and so the streaming batch id, are tagged with). */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
