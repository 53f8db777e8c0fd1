package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Planning phases of a finished SQL execution, read from the query
  * execution its end event carries. The event's `qe` is package-private,
  * hence this shim in Spark's own package; it is the same query execution
  * Spark hands its `QueryExecutionListener`s, but joined to the execution
  * id without guessing (a `QueryExecution.id` is not the execution id). */
object PlanPhases {
  def ms(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
      .getOrElse(Map.empty)
}
