package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column <-> Catalyst Expression interop for custom expressions.
  *
  * Spark 4 moved `Column` to a ColumnNode representation and made the
  * conversion utilities `private[sql]`; a bridge object inside
  * `org.apache.spark.sql` is the standard extension-library pattern for
  * exposing `Expression`-backed columns (the alternative — registering
  * every expression in the session FunctionRegistry and round-tripping
  * through the SQL parser — couples plan construction to session state).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Names of the columns `c` reads. [[expression]] wraps a plain
    * ColumnNode (`col`, `sum`, `+`, ...) in ONE opaque leaf, so a tree walk
    * over its result finds nothing; this converts the whole node tree. */
  def referencedNames(c: Column): Set[String] =
    ColumnNodeToExpressionConverter(c.node).collect {
      case u: UnresolvedAttribute => u.name
    }.toSet
}
