package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd exact dot product over two numeric-vector columns
  * (`array<float>` or `array<double>`) — the hot kernel of every
  * similarity operator.
  *
  * Semantics: per element, multiply in double (float→double widening is
  * exact, the multiply is IEEE-deterministic), quantize the product to
  * DECIMAL scale 16 exactly as BigDecimal.valueOf + HALF_UP (the path
  * Spark's `Cast(double→decimal)` uses) would, then sum EXACTLY and
  * convert the final decimal to double. This is the order-independent
  * exact sum the DuckDB oracles compute with
  * `SUM(CAST(x*y AS DECIMAL(32,16)))` — note it is *more* faithful to
  * that oracle than a per-row
  * `aggregate(zip_with(...), +)` fold, whose decimal Add chain is
  * precision-capped at 38 and silently drops to scale 15 each step.
  *
  * Why a custom Expression (the brief's extension path b): the built-in
  * formulation evaluates interpreted lambda closures and allocates a
  * BigDecimal pair per element; this compiles to one static call inside
  * whole-stage codegen, and [[Exact16]] quantizes and sums in a long,
  * so only the few elements near a rounding boundary allocate. A NaN or
  * infinite product raises an IllegalArgumentException naming the
  * function and the element index. Preferred over a Scala UDF: no
  * encoder ser/deser, framework null-safety, participates in codegen.
  */
case class VectorDotExact(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"vector_dot_exact expects array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorDotExact.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorDotExact.dot($a, $b, ${isFloat(left)}, ${isFloat(right)});")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorDotExact {
  /** Exact decimal-quantized sum of element products; see class doc. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val acc = new Exact16.Sum(FnName)
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc.add(x * y, i)
      i += 1
    }
    acc.toDouble
  }

  private val FnName = "graft_vector_dot_exact"

  /** (name, builder) for session-registry or
    * [[graft.GraftExtensions]] injection. */
  def injection: (String, Seq[Expression] => Expression) =
    (FnName, exprs => {
      val Seq(a, b) = KernelArgs.exactly(FnName, 2, exprs)
      VectorDotExact(a, b)
    })

  /** Register in the session's function registry (idempotent) — the
    * public seam for injecting a custom Expression without touching
    * `private[sql]` Column internals; production deployments would use
    * `SparkSessionExtensions.injectFunction` at session build instead. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, injection._2, "built-in")

  /** Column-level entry point; caller must have [[register]]ed. */
  def apply(a: Column, b: Column): Column = call_function(FnName, a, b)
}
