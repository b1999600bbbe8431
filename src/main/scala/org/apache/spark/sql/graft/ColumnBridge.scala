package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Expression conversion — the
  * standard shim any library shipping native Catalyst expressions uses
  * (Spark 4 wraps Columns in ColumnNodes; ExpressionUtils is the
  * sanctioned converter but is sql-private). Kept to two one-liners so
  * the dependency surface on Spark internals stays minimal. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Keep-lowest-k aggregate over `member`'s natural ordering, evaluated
    * to an ascending-sorted array — Spark's own `CollectTopK`
    * (`private[sql]`, hence surfaced here): a `TypedImperativeAggregate`
    * over a bounded priority queue, so partial (map-side) aggregation
    * caps every group at k members before the exchange. `reverse=true`
    * keeps the k SMALLEST and sorts the result ascending. */
  def bottomK(member: Column, k: Int): Column = column(
    org.apache.spark.sql.catalyst.expressions.aggregate
      .GraftCollectTopK(expression(member), k, reverse = true))

  /** Adds rows and bytes read outside Spark's data sources to the
    * running task's input metrics (`incRecordsRead`/`incBytesRead` are
    * `private[spark]`); a no-op outside a task. */
  def addTaskInput(records: Long, bytes: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { c =>
      val m = c.taskMetrics().inputMetrics
      m.incRecordsRead(records)
      m.incBytesRead(bytes)
    }
}
