package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` seams a custom operator or expression needs:
  * constructing a DataFrame from a custom LogicalPlan, and moving
  * between a Column and the Catalyst expression it wraps. Living under
  * `org.apache.spark.sql` for package-private access is the standard
  * technique for Spark extension libraries (Iceberg, Sedona, et al.);
  * nothing else in this repo reaches into Spark internals.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A Catalyst expression as a Column, with no function registry or
    * session extension in between (the load session installs neither).
    */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A Column as a Catalyst expression, converted when its plan is
    * analysed.
    */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
