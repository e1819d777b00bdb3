package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge for custom native expressions.
  * `classic.ExpressionUtils` is private[sql] in Spark 4, so extension
  * libraries expose it from inside the package — the standard pattern
  * for Catalyst-level extensions built on the public distribution.
  * `asNullable` is the schema a file source scans with. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def asNullable(s: StructType): StructType = s.asNullable
}
