package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd PLAIN-double dot product — [[VectorDotExact]]'s cheap
  * sibling for band-gated predicates.
  *
  * Semantics: per element, multiply in double and accumulate in double,
  * left-to-right array order. NOT order-independent across arbitrary
  * re-association and NOT the oracle's decimal sum — never use it where
  * the value itself is emitted or hashed. Its one legitimate role is as
  * a conservative pre-filter: for unit-scale 64-dim vectors the gap to
  * the exact decimal sum is bounded by the double summation error
  * (≤ n·ulp ≈ 1e-13 relative) plus the 16-dp quantization (≤ n·5e-17),
  * many orders of magnitude below any sensible decision band, so
  * `raw ≥ t + band ⇒ exact ≥ t` and `raw ≤ t − band ⇒ exact < t` hold
  * with margin and only the band interior pays the BigDecimal kernel
  * (see `Similarity.assignDelta`'s near-dup probe).
  *
  * Why it is fast: one static call inside whole-stage codegen, zero
  * allocations, one multiply-add per element. The exact kernel is now
  * allocation-free too ([[Exact16]]'s long fixed point), but still does a
  * 128-bit multiply and a boundary test per element and takes BigDecimal
  * for the 2–5% of elements near a rounding boundary — several times
  * this kernel's cost per row, so the band pre-filter still pays.
  */
case class VectorDotRaw(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"vector_dot_raw expects array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorDotRaw.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorDotRaw.dot($a, $b, ${isFloat(left)}, ${isFloat(right)});")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorDotRaw extends Kernel("graft_vector_dot_raw", 2) {
  /** Plain double fold of element products; see class doc. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    var acc = 0.0
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  protected def make(a: Seq[Expression]): Expression = VectorDotRaw(a(0), a(1))

  /** Column-level entry point; needs no function registration. */
  def apply(a: Column, b: Column): Column = column(a, b)
}
