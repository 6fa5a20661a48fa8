package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A Column over a Catalyst expression built in Scala. Spark 4 keeps that
  * constructor `private[sql]`, hence this package; `Pipeline.run` uses it
  * for the fused `page_stages` expression, whose broadcast tagger cannot
  * pass through the SQL function registry. */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
}
