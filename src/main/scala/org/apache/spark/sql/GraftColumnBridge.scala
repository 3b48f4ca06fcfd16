package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers

/** Bridge to the classic Column↔Expression converters, which are
  * `private[sql]` in Spark 4. This is the supported pattern for
  * libraries that define custom Catalyst expressions and expose them as
  * `Column`s. `normalizedKey` is the float normalization (-0.0 → 0.0,
  * one NaN) that Spark applies to grouping and join keys, also
  * `private[sql]`.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def normalizedKey(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
