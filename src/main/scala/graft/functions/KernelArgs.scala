package graft.functions

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Argument checks the kernels' SQL builders run at analysis: a wrong
  * call fails with Spark's own named analysis errors, not an
  * IndexOutOfBoundsException from the builder or a silently wrapped
  * parameter inside the kernel. */
private[functions] object KernelArgs {
  /** `exprs`, checked to hold exactly `n` arguments. */
  def exactly(fn: String, n: Int, exprs: Seq[Expression]): Seq[Expression] = {
    if (exprs.length != n)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$fn`",
        "expectedNum" -> n.toString,
        "actualNum" -> exprs.length.toString,
        "docroot" -> SPARK_DOC_ROOT))
    exprs
  }

  /** The value of a foldable integer argument, checked to be in [1, max]. */
  def positiveInt(fn: String, param: String, e: Expression, max: Int): Int = {
    if (!e.foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
    val v = (e.dataType, e.eval()) match {
      case (ByteType | ShortType | IntegerType | LongType, n: Number) => n.longValue()
      case (_, other) =>
        throw new AnalysisException("INVALID_PARAMETER_VALUE.INTEGER", Map(
          "parameter" -> s"`$param`", "functionName" -> s"`$fn`",
          "invalidValue" -> String.valueOf(other)))
    }
    if (v < 1 || v > max)
      throw new AnalysisException("DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", Map(
        "sqlExpr" -> s"`$fn`", "exprName" -> s"`$param`",
        "valueRange" -> s"[1, $max]", "currentValue" -> v.toString))
    v.toInt
  }
}
