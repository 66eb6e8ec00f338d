package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers every graft codegen
  * kernel as a permanent SQL function at session build, so a deployment
  * gets the whole surface from config alone —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — and `SELECT graft_vector_dot_exact(a, b)` works from plain
  * `spark.sql` (and from every session of the application, including
  * ones the library never sees). The in-library operators keep using
  * the idempotent per-object `register` calls (temp functions on their
  * own session), so the library works with OR without the extension;
  * both paths share one builder per kernel (each object's `injection`)
  * and therefore cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.injections.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}

object GraftExtensions {
  /** Every custom kernel's (SQL name, expression builder). */
  def injections: Seq[(String, Seq[Expression] => Expression)] = Seq(
    functions.VectorDotExact.injection,
    functions.LshBucketsExact.injection,
    functions.Md5Hash32.injection,
    functions.Md5NibbleMsbs.injection,
    functions.QuantizeInt8.injection,
    functions.SortedIntersectCount.injection,
    functions.VectorDotLong.injection,
    functions.VectorDotRaw.injection,
  )
}
