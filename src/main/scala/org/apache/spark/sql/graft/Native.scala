package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression conversion for the native expressions
  * in `graft.functions`. The converters are `private[sql]`, so this one
  * object lives under `org.apache.spark.sql` and nothing else does.
  *
  * `expr` of a non-native column (a `col`, a cast, a literal) is a
  * deferred node that the DataFrame's own session resolves, so casts and
  * ANSI mode follow that session; no session state is read or written
  * when a native column is built.
  */
object Native {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
