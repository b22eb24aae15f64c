package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into `private[sql]` Column↔Expression conversion for graft's
 * parameterized expressions (PQ codebooks/LUTs can't go through the
 * function registry — they are per-index runtime objects), and into
 * `Dataset.ofRows` for graft's own logical plans. Lives in
 * the org.apache.spark.sql package solely to access the API; contains
 * no logic.
 */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan graft builds itself. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The ANSI `DIVIDE_BY_ZERO` error a zero divisor raises under
    * `spark.sql.ansi.enabled` — for kernels that replace a division. */
  def divideByZero(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)

  /** Spark's per-session random UUID (`private[sql]`) — the stable
    * cache key [[graft.operators.SessionMemo]] uses; an identity hash
    * can be recycled after GC, a UUID cannot. */
  def sessionUUID(s: SparkSession): Option[String] = s match {
    case c: classic.SparkSession => Some(c.sessionUUID)
    case _ => None
  }
}
