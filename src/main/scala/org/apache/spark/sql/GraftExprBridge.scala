package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ⇄ Expression converters (Spark
  * 4 wraps Column around ColumnNode; classic.ExpressionUtils does the
  * conversion). Standard extension-library shim: living in
  * `org.apache.spark.sql` grants the access; nothing else belongs here.
  */
object GraftExprBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The original SQL text of a Column built with `expr("...")` /
    * `selectExpr` — i.e. whose node is a [[internal.SqlExpression]].
    * None for Columns built through the DSL (their nodes render
    * debug strings, not parseable SQL).
    */
  def sqlText(c: Column): Option[String] = c.node match {
    case internal.SqlExpression(sql, _) => Some(sql)
    case _ => None
  }
}
