package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the tracer needs, hence this file's
  * package: wait until every posted event has reached the listeners
  * (`listenerBus` is `private[spark]`), and the query an execution-end
  * event belongs to (`qe` is `private[sql]`), which links a
  * QueryExecutionListener callback to its SQL execution id.
  */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
