package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.KernelColumn

/** A codegen kernel's SQL name and its one expression builder, which
  * checks the argument count and hands the arguments to `make`.
  * [[graft.GraftExtensions]] injects the builder under the name, and the
  * kernel's Column entry point builds its expression with the same
  * builder, so a DataFrame call needs no function registration. */
abstract class Kernel(val name: String, arity: Int) {
  protected def make(args: Seq[Expression]): Expression

  def injection: (String, Seq[Expression] => Expression) =
    (name, args => make(KernelArgs.exactly(name, arity, args)))

  protected def column(args: Column*): Column = KernelColumn(injection._2, args: _*)
}
