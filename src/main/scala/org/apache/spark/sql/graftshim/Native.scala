package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ExpressionUtils

/** The one bridge between graft's native Catalyst expressions and the
  * DataFrame API. Spark keeps the `Expression` ↔ `Column` conversion
  * `private[sql]`, so this object lives under `org.apache.spark.sql`; the
  * typed builders in `graft.functions` (`DotProduct.of`, `Shingles.of`, …)
  * go through it, and a query built with them resolves on any session
  * without a function-registry lookup.
  */
object Native {

  /** A native expression as a column. */
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** A native aggregate function as an aggregate column (`agg(...)`). */
  def agg(f: AggregateFunction): Column = ExpressionUtils.column(f.toAggregateExpression())

  /** A column's (possibly unresolved) expression, to pass as a child. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
