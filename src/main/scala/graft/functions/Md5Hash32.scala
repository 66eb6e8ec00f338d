package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 32-bit md5-derived hash of a string: the first 4 digest bytes as an
  * unsigned 32-bit value in a LONG — bit-identical to "the first 8 hex
  * digits of md5(key) parsed as an integer", the cross-engine formula
  * the DuckDB oracles recompute ([[graft.operators.Sketch.hash32SqlExpr]]).
  *
  * Why this expression exists (round-6 perf fix): the Column formulation
  * `(1 to 8).map(pos => instr(hex, substring(md5(...), pos, 1)) ...)`
  * references the md5 subtree EIGHT times in one projection, and Spark's
  * subexpression elimination does not reliably collapse them — measured
  * ~20 µs/row (md5 evaluated per reference) vs ~1 µs here. One digest
  * per row, no hex-string round trip, no per-digit string searches.
  */
case class Md5Hash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_hash32 expects a string key, got $t")
  }

  override def nullSafeEval(s: Any): Any =
    Md5Hash32.hash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Hash32.hash($s);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Md5Hash32 extends Kernel("graft_md5_hash32", 1) {
  private[functions] val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes of the UTF-8 string, big-endian unsigned. */
  def hash(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  protected def make(a: Seq[Expression]): Expression = Md5Hash32(a.head)

  /** Column-level entry point; needs no function registration. */
  def apply(key: Column): Column = column(key)
}

/** All 32 md5 nibble MSBs of a string packed into a LONG: bit j is set
  * iff hex digit j of md5(key) is ≥ 8 (the sign convention SimHash
  * hashes terms with). Bit-identical to 32 separate
  * `substr(md5(key), j+1, 1) IN ('8'..'f')` probes — which is what the
  * simhash Column formulation evaluated per term-row (32 substring +
  * set-membership string ops); here it is one digest and 16 byte
  * inspections. The DuckDB oracle keeps the per-digit form
  * ([[graft.dedup.Dedup.simhashSql]]) — md5 is the shared primitive.
  */
case class Md5NibbleMsbs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_nibble_msbs expects a string key, got $t")
  }

  override def nullSafeEval(s: Any): Any =
    Md5NibbleMsbs.msbs(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5NibbleMsbs.msbs($s);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Md5NibbleMsbs extends Kernel("graft_md5_nibble_msbs", 1) {
  /** Bit j (0-based, hex-digit order) = MSB of md5 nibble j. Nibble 2b
    * is byte b's HIGH nibble (hex renders high nibble first). */
  def msbs(s: UTF8String): Long = {
    val md = Md5Hash32.digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var out = 0L
    var b = 0
    while (b < 16) {
      if ((d(b) & 0x80) != 0) out |= 1L << (2 * b)     // high nibble ≥ 8
      if ((d(b) & 0x08) != 0) out |= 1L << (2 * b + 1) // low nibble ≥ 8
      b += 1
    }
    out
  }

  protected def make(a: Seq[Expression]): Expression = Md5NibbleMsbs(a.head)

  def apply(key: Column): Column = column(key)
}
