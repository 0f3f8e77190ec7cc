package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the `private[sql]` Column↔Expression converters —
  * the supported way for external libraries to hand a custom Catalyst
  * `Expression` to the public Column API in Spark 4's classic runtime,
  * and to read a Column back as the unanalyzed Catalyst tree the
  * session itself would plan (data skipping's one predicate parser,
  * `graft.ingest.Skipping`). Nothing else reaches into internals.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` converted by `spark`'s own converter into the Catalyst tree —
    * its SQL parser turns `functions.expr` text into nodes inline. (The
    * one-argument form wraps the unconverted node for the analyzer.) */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)
}
