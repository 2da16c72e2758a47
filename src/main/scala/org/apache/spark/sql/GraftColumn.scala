package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** Expression→Column for the engine's native kernels. Spark 4 keeps the
  * constructors `sql`-private, so this one shim lives in the package:
  * `build` receives the argument Columns as Catalyst expressions, and an
  * aggregate comes back wrapped the way the analyzer wraps a resolved
  * aggregate function call.
  */
object GraftColumn {
  def apply(build: Seq[Expression] => Expression, cols: Column*): Column =
    classic.ExpressionUtils.column(
      build(cols.map(classic.ExpressionUtils.expression)) match {
        case agg: AggregateFunction => agg.toAggregateExpression()
        case e => e
      })
}
