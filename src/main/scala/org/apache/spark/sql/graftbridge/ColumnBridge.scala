package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Expression converters — the
  * established pattern Spark extension libraries use to construct Columns
  * from custom Catalyst [[Expression]]s without a per-session function
  * registry. Spark 4's public `Column` wraps a ColumnNode; the classic
  * converters live behind `private[sql]`, so this one-object shim is placed
  * inside the `org.apache.spark.sql` package namespace. This package
  * ([[KeptFrame]] beside it) is all the repo keeps outside `graft.*`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
