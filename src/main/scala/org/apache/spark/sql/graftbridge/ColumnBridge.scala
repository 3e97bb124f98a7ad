package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`, Spark 4.x).
  *
  * Every native expression of the engine ([[graft.functions.DotProduct]],
  * [[graft.functions.Shingles]], [[graft.functions.TrigramScoreBcast]], …)
  * becomes a `Column` here, built directly rather than looked up by name
  * in a session function registry: the library API then works on any
  * session, and constructor arguments that are not Expressions (a
  * broadcast handle, a shingle length) pass straight through. Living one
  * package below `org.apache.spark.sql` grants the `private[sql]` access;
  * this is the standard extension-point idiom for Spark-native libraries
  * (the same accessors every DataFrame operation uses internally).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
