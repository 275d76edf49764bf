package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the query execution a SQL-execution-end event carries (a
  * `private[sql]` field, hence this file's package).
  */
object ExecutionEnd {
  /** Analysis + optimization + physical planning time of the execution, ms. */
  def planMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map { qe =>
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").flatMap(phases.get)
        .map(_.durationMs.toDouble).sum
    }.getOrElse(0.0)
}
