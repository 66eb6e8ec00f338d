package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Codegen'd kernels for the int8-quantized retrieval path (s8).
  *
  * [[QuantizeInt8]] maps a float/double vector to its symmetric int8
  * code vector round(xᵢ/‖x‖·127) in ONE pass: the exact-decimal norm²
  * (the same allocation-free [[Exact16]] sum as [[VectorDotExact]]) is
  * computed once per row inside the kernel, then every element is
  * scaled and half-away-from-zero rounded — identical semantics to the
  * previous `transform(e, x => round(x/nrm*127, 0))` formulation, with two
  * differences that only matter for speed: the loop is a compiled java
  * loop instead of an interpreted lambda, and the norm CANNOT be
  * re-inlined per element. (The lambda version had exactly that trap:
  * CollapseProject folds the `nrm` alias into the lambda body, so the
  * 64-element exact dot re-ran for every element — a 64× blowup that
  * made s8 the slowest similarity query. A kernel that owns the whole
  * row is immune by construction.)
  *
  * [[VectorDotLong]] is the integer dot product of two code vectors —
  * plain long multiply-accumulate, overflow-safe for any realistic
  * dimension (|q|≤127 ⇒ each term ≤ 16129, dim 2⁴⁸ before overflow).
  * Replaces the interpreted `aggregate(zip_with(...))` fold in the
  * ranking loop.
  */
case class QuantizeInt8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"quantize_int8 expects array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any): Any =
    QuantizeInt8.quantize(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantizeInt8.quantize($a, $isFloat);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object QuantizeInt8 extends Kernel("graft_quantize_int8", 1) {
  /** One-pass norm + quantize; see class doc for the exact semantics. */
  def quantize(a: ArrayData, aFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val acc = new Exact16.Sum(name)
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc.add(x * x, i)
      i += 1
    }
    val nrm = math.sqrt(acc.toDouble)
    val out = new Array[Long](n)
    // all-zero vector: x/nrm would be NaN and BigDecimal.valueOf(NaN)
    // throws — emit the all-zero code vector instead (the Column
    // formulation this kernel replaced degraded to NULL/NaN, never threw)
    if (nrm == 0.0) return new GenericArrayData(out)
    i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      // same op order as the Column formulation: (x / nrm) * 127.0, then
      // Spark Round-on-double semantics (BigDecimal HALF_UP at scale 0)
      out(i) = JBigDecimal.valueOf(x / nrm * 127.0)
        .setScale(0, RoundingMode.HALF_UP).longValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  protected def make(a: Seq[Expression]): Expression = QuantizeInt8(a.head)

  def apply(a: Column): Column = column(a)
}

case class VectorDotLong(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorDotLong.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorDotLong.dot($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorDotLong extends Kernel("graft_vector_dot_long", 2) {
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  protected def make(a: Seq[Expression]): Expression = VectorDotLong(a(0), a(1))

  def apply(a: Column, b: Column): Column = column(a, b)
}
