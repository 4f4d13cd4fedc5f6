package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal classic-backend bridge for graft's custom Catalyst
  * expressions. Spark 4 hides Column ⇄ Expression conversion behind
  * `private[sql]` ([[org.apache.spark.sql.classic.ExpressionUtils]]),
  * and a DataFrame over a given logical plan behind `private[sql]`
  * `Dataset.ofRows`; extension libraries that ship native codegen
  * expressions or reuse analyzed plans need this shim in the sql
  * package namespace. No Spark internals are reimplemented here —
  * calls delegate to Spark's own utilities.
  */
package object graftbridge {

  /** Wrap a catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its catalyst Expression (classic backend). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A DataFrame over `plan` (classic backend): Spark's own
    * `Dataset.ofRows`, which analyzes what is not analyzed yet.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
