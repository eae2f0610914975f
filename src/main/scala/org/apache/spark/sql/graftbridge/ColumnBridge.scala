package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Converts between a Catalyst [[Expression]] and a [[Column]]. Spark's own
  * converter is `private[sql]`, out of reach from `graft`; a sub-package of
  * `org.apache.spark.sql` can call it. This is the one file in `src/main`
  * that uses package-private Spark API (`PackageBridgeSpec` keeps it so). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
