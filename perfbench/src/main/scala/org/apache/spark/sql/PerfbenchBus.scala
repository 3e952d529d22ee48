package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Lives in Spark's package for the two package-private members the
  * benchmark's listeners need. */
object PerfbenchBus {

  /** Waits until every listener has seen every event, so a pass's
    * counters are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution an execution-end event carries (null when the
    * event did not come from this JVM). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
