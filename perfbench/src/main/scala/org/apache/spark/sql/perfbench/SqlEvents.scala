package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event belongs to. Its id differs
  * from the event's execution id; this is how the two are joined. */
object SqlEvents {
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
