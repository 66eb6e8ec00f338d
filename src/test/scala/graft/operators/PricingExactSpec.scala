package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.SparkSpec
import graft.sources.Tables

/** q1_agg and q92's pricing sums are exact: products of bounded DECIMAL
  * operands in the engine and the oracle, and the oracle's DECIMAL →
  * DOUBLE step correctly rounded (DuckDB's direct cast is not). */
class PricingExactSpec extends SparkSpec {
  private def q1 = Relational.q1Agg(spark, sf("sf0.001"))
  private def q92 = Relational.q92PricingSummary(spark, sf("sf0.001"))

  test("no double → decimal cast of a computed value in q1_agg or q92") {
    for (df <- Seq(q1, q92)) {
      val casts = df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case c: Cast if c.child.dataType == DoubleType && c.dataType.isInstanceOf[DecimalType] => c
      }))
      assert(casts.nonEmpty)
      assert(casts.forall(_.child.isInstanceOf[AttributeReference]),
        casts.filterNot(_.child.isInstanceOf[AttributeReference]).mkString("\n"))
    }
  }

  test("the oracles cast no computed double to DECIMAL and no DECIMAL sum straight to DOUBLE") {
    for (sql <- Seq(Relational.q1AggSql, Relational.q92PricingSummarySql())) {
      assert("""(?<!CAST\()CAST\(SUM\(""".r.findFirstIn(sql).isEmpty, sql)
      assert(!"""CAST\(l_\w+ [*+-]""".r.findFirstIn(sql).isDefined, sql)
      assert(sql.contains("AS VARCHAR) AS DOUBLE)"), sql)
    }
  }

  /** Per (flag, status) group: the correctly rounded double of the exact
    * decimal sum of `term` over the rows. */
  private def exact(term: (BigDecimal, BigDecimal, BigDecimal) => BigDecimal): Map[(String, String), Double] =
    Tables.lineitem(spark, sf("sf0.001"))
      .filter("l_shipdate <= timestamp'1998-09-02'")
      .select("l_returnflag", "l_linestatus", "l_extendedprice", "l_discount", "l_tax")
      .collect().toSeq
      .groupMapReduce(r => (r.getString(0), r.getString(1)))(r =>
        term(BigDecimal(r.getDouble(2)), BigDecimal(r.getDouble(3)), BigDecimal(r.getDouble(4))))(_ + _)
      .view.mapValues(_.toDouble).toMap

  private def column(df: DataFrame, name: String): Map[(String, String), Double] =
    df.select("l_returnflag", "l_linestatus", name).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap

  test("q92's sum_disc_price and sum_charge equal the exact decimal sums") {
    assert(column(q92, "sum_disc_price") == exact((p, d, _) => p * (1 - d)))
    assert(column(q92, "sum_charge") == exact((p, d, t) => p * (1 - d) * (1 + t)))
  }
}
