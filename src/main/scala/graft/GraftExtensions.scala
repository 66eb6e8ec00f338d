package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point and graft's SQL-name surface:
  * injects every codegen kernel as a permanent SQL function at session
  * build, so a deployment gets `SELECT graft_vector_dot_exact(a, b)`
  * from config alone —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — in every session of the application. [[GraftSession]] installs it
  * with `withExtensions`. The DataFrame path needs no registration:
  * each kernel's Column entry point (`VectorDotExact(a, b)`, …) builds
  * its expression directly from the same `injection` builder this
  * extension injects, so the two paths share one definition per kernel
  * and cannot drift.
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
