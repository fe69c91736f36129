package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Catalyst expression → Column, which Spark 4 keeps `private[sql]`. Lets
  * graft use its own Catalyst expressions as Columns without registering a
  * function, so they also work in a session built without
  * `GraftExtensions`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `s` with every field nullable at every depth (`private[spark]`), the
    * schema `from_json` parses into.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}
