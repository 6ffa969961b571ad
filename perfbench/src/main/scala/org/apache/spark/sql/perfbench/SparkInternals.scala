package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the harness reads, both package-private to
  * Spark: the listener bus (to wait until every queued event has been
  * delivered, before the tracer reads its counters and before each timed
  * call) and the finished query's QueryExecution (for Catalyst's
  * per-phase planning times). */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Analysis + optimization + planning milliseconds of a finished SQL
    * execution; 0 when the event carries no QueryExecution. */
  def planMs(end: SparkListenerSQLExecutionEnd): Long =
    Option(end.qe).map(_.tracker.phases.collect {
      case (phase, summary) if catalystPhases(phase) => summary.durationMs
    }.sum).getOrElse(0L)

  private val catalystPhases = Set("analysis", "optimization", "planning")
}
