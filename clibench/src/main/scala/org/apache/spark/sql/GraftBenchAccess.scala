package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark handles the benchmark's tracer needs.
  * It lives in Spark's package for that reason only. */
object GraftBenchAccess {
  /** Blocks until every event posted so far has reached every listener:
    * counters are read only after this, never after a guessed sleep. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an SQL execution ran (None for executions replayed from
    * an event log, which carry no live query). */
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
