package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` / `private[spark]` seams this repo needs:
  * constructing a DataFrame from a custom LogicalPlan, moving between a
  * Column and the Catalyst expression it wraps, and freeing a locally
  * checkpointed RDD's blocks without `RDD.unpersist`'s lineage WARN.
  * Living under `org.apache.spark.sql` for package-private access is
  * the standard technique for Spark extension libraries (Iceberg,
  * Sedona, et al.); nothing else in this repo reaches into Spark
  * internals.
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

  /** Drop RDD `id`'s cached blocks, without blocking. `RDD.unpersist`
    * does the same, but first logs a WARN for a locally checkpointed
    * RDD ("its lineage has been truncated"), which is exactly the RDD a
    * caller frees once nothing reads it any more.
    */
  def unpersistRDD(sc: SparkContext, id: Int): Unit =
    sc.unpersistRDD(id, blocking = false)
}
