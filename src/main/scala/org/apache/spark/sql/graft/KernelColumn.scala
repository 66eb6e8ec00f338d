package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** A graft kernel's Column, built straight from its Catalyst expression
  * builder (the same builder `graft.GraftExtensions` injects under the
  * kernel's SQL name), so a DataFrame call needs no function-registry
  * entry in the caller's session and cannot replace a user's function
  * of the same name.
  *
  * The arguments are converted eagerly: `ExpressionUtils.expression`
  * wraps a Column in an unevaluable placeholder until analysis, which
  * would hide a `lit(...)` argument from the builder's foldable-literal
  * checks. The converter is the one Spark applies to every Column.
  *
  * Lives under `org.apache.spark.sql` for `private[sql]` access to
  * `classic`'s Column ⇄ Expression conversion — the same shim pattern
  * as [[LineageStats]].
  */
object KernelColumn {
  def apply(builder: Seq[Expression] => Expression, args: Column*): Column =
    ExpressionUtils.column(builder(args.map(a => ColumnNodeToExpressionConverter(a.node))))
}
