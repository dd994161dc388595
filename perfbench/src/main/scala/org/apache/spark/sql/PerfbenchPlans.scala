package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The executed query behind an SQL-execution-end event, which Spark keeps
 *  package-private: the benchmark's listener reads row counts from its
 *  plan's SQL metrics. */
object PerfbenchPlans {
  def ended(e: SparkListenerEvent): Option[(Long, QueryExecution)] = e match {
    case x: SparkListenerSQLExecutionEnd if x.qe != null => Some((x.executionId, x.qe))
    case _ => None
  }
}
