package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Round-17 verification kernel: |a ∩ b| over two SORTED long arrays as
  * one compiled merge — replaces `size(array_intersect(a, b))` on the
  * dedup pair-verification hot paths (d3/d7/d8 LSH verify, d17 prefix
  * join, d21 ingest), where array_intersect builds a per-ROW hash set
  * over the probe side for every candidate pair.
  *
  * Contract: inputs must be sorted ascending (the d-family shingle-set
  * arrays are — [[graft.dedup.Dedup]] sorts them once per DOCUMENT at
  * the shared build, amortized over every pair the doc appears in).
  * Duplicates are counted with SET semantics (both cursors skip past a
  * matched value), so the count equals `size(array_intersect(a, b))`
  * for ANY sorted input, duplicate-free or not. Nulls inside the
  * arrays are not supported (the shingle hashes are non-null by
  * construction); a null ARRAY yields null via the standard
  * null-intolerant binary expression contract.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_sorted_intersect_count expects two array<bigint>, got $l / $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectCount.count($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedIntersectCount {
  /** Sorted-merge set-intersection count; see class doc. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) {
        c += 1
        while (i < n && a.getLong(i) == x) i += 1
        while (j < m && b.getLong(j) == y) j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    c
  }

  private val FnName = "graft_sorted_intersect_count"

  def injection: (String, Seq[Expression] => Expression) =
    (FnName, exprs => {
      val Seq(a, b) = KernelArgs.exactly(FnName, 2, exprs)
      SortedIntersectCount(a, b)
    })

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, injection._2, "built-in")

  def apply(a: Column, b: Column): Column = call_function(FnName, a, b)
}
