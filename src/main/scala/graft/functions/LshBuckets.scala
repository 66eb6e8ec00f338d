package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Codegen'd sign-random-projection LSH bucketer: ALL `l` table buckets
  * for one embedding in a single pass, hyperplane weights generated
  * on the fly from the shared integer-LCG formula
  * `w(idx) = ((idx·1103515245 + 12345) mod 2²¹)/2²¹ − ½`,
  * `idx = (t·p + plane)·dims + d` — exact dyadic doubles, identical to
  * the DuckDB oracle's `planes` CTE (Similarity.bucketsSql).
  *
  * Why this expression exists (round-6 perf fix): the previous
  * formulation evaluated `l·p` [[VectorDotExact]] calls per row against
  * `l·p` LITERAL 64-double array expressions — ~1500 literal nodes that
  * inflated the compiled plan and cost s2_ann_lsh ~3.9 s of one-time
  * codegen/JIT per session (NOTES.md backlog #3). Here the plan carries
  * ONE expression with three int parameters; the weights never appear in
  * the plan at all.
  *
  * Exactness contract (the d3/s2 oracle hash-match property): per
  * element the product is an IEEE double multiply quantized to DECIMAL
  * scale 16 exactly as BigDecimal.valueOf + HALF_UP would — the path
  * Spark's `Cast(double→decimal)` and the oracle's
  * `SUM(CAST(x*w AS DECIMAL(32,16)))` take — summed exactly; the sign
  * test is on the exact decimal (`proj >= 0` in the oracle). Identical
  * bucket values to the literal-plane formulation by construction.
  * [[Exact16]] does the quantize-and-sum in a long, so only elements
  * near a rounding boundary allocate; a NaN or infinite product raises
  * an IllegalArgumentException naming the function and element index.
  *
  * `l`, `p` and `dims` are checked at analysis to be foldable positive
  * ints with `p ≤ 63` (the bucket is a `p`-bit long; `1L << 64` would
  * silently wrap).
  */
case class LshBucketsExact(child: Expression, l: Int, p: Int, dims: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"lsh_buckets_exact expects array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any): Any =
    LshBucketsExact.buckets(a.asInstanceOf[ArrayData], isFloat, l, p, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LshBucketsExact.buckets($a, $isFloat, $l, $p, $dims);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object LshBucketsExact {
  /** All `l` bucket values for one vector; see class doc. */
  def buckets(a: ArrayData, aFloat: Boolean, l: Int, p: Int, dims: Int): ArrayData = {
    val n = math.min(dims, a.numElements())
    val out = new Array[Long](l)
    val acc = new Exact16.Sum(FnName)
    var t = 0
    while (t < l) {
      var bucket = 0L
      var pp = 0
      while (pp < p) {
        val base = (t.toLong * p + pp) * dims
        acc.reset()
        var d = 0
        while (d < n) {
          val x = if (aFloat) a.getFloat(d).toDouble else a.getDouble(d)
          val w = (((base + d) * 1103515245L + 12345L) % 2097152L).toDouble / 2097152.0 - 0.5
          acc.add(x * w, d)
          d += 1
        }
        if (acc.signum >= 0) bucket |= 1L << pp
        pp += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  private val FnName = "graft_lsh_buckets_exact"

  /** (name, builder) for session-registry or
    * [[graft.GraftExtensions]] injection. */
  def injection: (String, Seq[Expression] => Expression) =
    (FnName, exprs => {
      val Seq(a, l, p, dims) = KernelArgs.exactly(FnName, 4, exprs)
      LshBucketsExact(a,
        KernelArgs.positiveInt(FnName, "l", l, Int.MaxValue),
        KernelArgs.positiveInt(FnName, "p", p, 63),
        KernelArgs.positiveInt(FnName, "dims", dims, Int.MaxValue))
    })

  /** Register in the session's function registry (idempotent) — same
    * injection seam as [[VectorDotExact.register]]. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, injection._2, "built-in")

  /** Column-level entry point; caller must have [[register]]ed. */
  def apply(a: Column, l: Int, p: Int, dims: Int): Column =
    call_function(FnName, a, lit(l), lit(p), lit(dims))
}
