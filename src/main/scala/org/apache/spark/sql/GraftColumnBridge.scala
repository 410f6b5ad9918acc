package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}

/** Column ↔ catalyst Expression bridge for the classic engine.
  *
  * Spark 4 hides `Column.expr` behind `private[sql]`
  * (`classic.ExpressionUtils` in columnNodeSupport.scala); extensions
  * that define native expressions conventionally bridge from inside
  * the `org.apache.spark.sql` package. Used by graft.vector to expose
  * its codegen kernels as Columns, and by graft.api to see which
  * columns a search filter names.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The top-level column names `c` refers to. `expression` above wraps
    * the column's node unconverted; the session converts the whole
    * tree, parsing SQL-string nodes too. */
  def referencedNames(spark: SparkSession, c: Column): Seq[String] =
    spark.asInstanceOf[classic.SparkSession].expression(c).collect {
      case a: UnresolvedAttribute => a.nameParts.head
      case a: AttributeReference => a.name
    }
}
