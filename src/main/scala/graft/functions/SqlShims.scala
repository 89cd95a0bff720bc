package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.types.AbstractDataType

/** Bridge into `private[sql]` Column↔Expression plumbing (Spark 4 moved
  * the constructors behind `org.apache.spark.sql.classic`). Living in an
  * `org.apache.spark.sql` subpackage is the standard extension-library
  * technique for registering custom Catalyst expressions. */
object SqlShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  type ADT = AbstractDataType

  /** `(name, qe)` of an execution that ran a named action to completion
    * (a `QueryExecutionListener` success); None if it failed or is unnamed. */
  def succeeded(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution)] =
    e.executionName.filter(_ => e.executionFailure.isEmpty).map(_ -> e.qe)
}
