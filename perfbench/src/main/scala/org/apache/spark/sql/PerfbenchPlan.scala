package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Planning milliseconds (analysis + optimization + planning phases of
  * the `QueryPlanningTracker`) of a finished SQL execution; the event's
  * `QueryExecution` is package-private. */
object PerfbenchPlan {
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum)
}
