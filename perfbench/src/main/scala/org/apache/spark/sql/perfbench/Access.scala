package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two scheduler internals the benchmark's listener needs, reached
  * from inside Spark's package: draining the listener bus so a unit's
  * events are all counted before it is closed, and the finished query
  * execution that carries the executed plan. */
object Access {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
