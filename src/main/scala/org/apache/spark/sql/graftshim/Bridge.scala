package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge.
  *
  * Spark 4 moved the classic Column↔Expression conversions behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * columnNodeSupport.scala). Extension libraries that ship custom
  * Catalyst expressions need exactly these two calls, so this shim
  * re-exports them from inside the sql package namespace — the same
  * technique Spark-extension libraries use publicly.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `StructType.asNullable` (`private[spark]`): the nullability every
    * file-source read applies to its data schema.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}
