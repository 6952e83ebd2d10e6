package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the two `private[spark]` hooks the benchmark's tracer
  * needs: the query execution attached to a SQL-execution-end event
  * (for its planning-phase durations) and the listener-bus flush (so
  * an op's events are all delivered before its metrics are read). */
object EngineBridge {

  /** Analysis + optimization + planning milliseconds of the query an
    * execution-end event closes; 0 when the event carries no query. */
  def planMillis(end: SparkListenerSQLExecutionEnd): Long =
    Option(end.qe).map { qe =>
      qe.tracker.phases.collect {
        case (p, s) if p != "parsing" => s.durationMs
      }.sum
    }.getOrElse(0L)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
