package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression API
  * (Spark 4 hides it behind the classic/connect Column split). Lives in
  * the org.apache.spark.sql namespace solely to satisfy the access
  * qualifier; no Spark internals are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager ColumnNode → catalyst conversion. `expression` returns a lazy
    * ColumnNodeExpression wrapper the analyzer unwraps later; use THIS
    * when the caller needs to pattern-match the catalyst node right away
    * (e.g. detecting a SortOrder behind `col.desc`).
    */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Wrap a logical plan back into a DataFrame (classic runtime only) —
    * lets an operator apply a Rule[LogicalPlan] explicitly to one query
    * without installing it session-wide.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `s` with every field, array element and map value nullable: the
    * schema Spark's file sources read under a user schema
    * (`private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** Wait until Spark's listener bus has delivered every posted event,
    * so a listener's totals are complete when read (`private[spark]`). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
