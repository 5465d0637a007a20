package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for the engine's native expressions.
  *
  * Spark 4 moved `Column` behind ColumnNode and scoped the converters
  * `private[sql]`; extension libraries shipping custom Catalyst
  * expressions use a one-file shim in an `org.apache.spark.sql`
  * subpackage to reach them (same pattern the registry-injection API
  * uses internally). Only these three calls live here.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan built outside the reader API (the custom
    * graft.plans.IntervalJoin node, the lake's pinned-snapshot scan
    * relation) as a DataFrame — `Dataset.ofRows` is `private[sql]` in
    * Spark 4, same scoping as the converters above.
    */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
