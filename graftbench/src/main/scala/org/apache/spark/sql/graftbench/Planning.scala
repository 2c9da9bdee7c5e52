package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the query an SQL execution-end event carries; the field is
  * visible only inside Spark's SQL package. */
object Planning {
  /** Milliseconds the execution's query spent in analysis, optimization
    * and physical planning. */
  def ms(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map { qe =>
      val p = qe.tracker.phases
      Seq("analysis", "optimization", "planning").flatMap(p.get).map(_.durationMs).sum
    }
}
