package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Expression→Column constructor so graft
  * can expose native Catalyst expressions (with codegen) through the
  * public Column API without per-session function registration. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `private[sql]` `StructType.merge` — the same merge parquet's
    * `mergeSchema` footer read folds file schemas with (fields of `a`
    * first, then the new fields of `b`; incompatible types throw). */
  def mergeSchemas(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)

  /** `private[spark]` `StructType.asNullable`: every field and container
    * element nullable — the schema a parquet read of `s` returns. */
  def asNullable(s: StructType): StructType = s.asNullable
}
