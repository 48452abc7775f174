package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Links a SQL execution (the id jobs carry) to the QueryExecution a
  * QueryExecutionListener reports; the link is only readable from Spark's
  * sql package. -1 when the event carries no query execution.
  */
object BenchSql {
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.id).getOrElse(-1L)
}
