package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.GraftExpressions

/**
 * SparkSessionExtensions entry point registering the library's
 * native functions (`GraftExpressions.sqlFunctions`) for the SQL
 * surface:
 *
 * {{{
 * SparkSession.builder().withExtensions(new GraftExtensions) ...
 * // or: spark.sql.extensions=graft.GraftExtensions
 * spark.sql("SELECT dot_product(a, b) FROM t")
 * }}}
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExpressions.sqlFunctions.foreach { case (name, cls, build) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}
