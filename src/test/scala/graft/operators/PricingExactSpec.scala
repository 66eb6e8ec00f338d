package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.SparkSpec
import graft.sources.Tables

/** q1_agg and q92's pricing sums are exact: products of bounded DECIMAL
  * operands in the engine and the oracle, and the oracle's DECIMAL →
  * DOUBLE step correctly rounded (DuckDB's direct cast is not). Every
  * other Relational oracle takes its DECIMAL sums to DOUBLE the same
  * way. */
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

  /** Each `CAST(SUM(...) AS DOUBLE)` in `sql` (windowed or under a
    * `COALESCE` too) whose sum is over a DECIMAL and which is not itself
    * inside a `CAST(` — the VARCHAR step `Relational.doubleSql` adds. */
  private def decimalSumsToDouble(sql: String): Seq[String] =
    """(?<!CAST\()CAST\((COALESCE\()?SUM\(""".r.findAllMatchIn(sql).map { m =>
      val open = m.start + 4
      val close = (open until sql.length).scanLeft(0)((d, i) =>
        d + (if (sql(i) == '(') 1 else if (sql(i) == ')') -1 else 0)).indexWhere(_ == 0, 1)
      sql.substring(m.start, open + close)
    }.filter(c => c.endsWith(" AS DOUBLE)") && c.contains("DECIMAL")).toSeq

  test("no Relational oracle casts a DECIMAL sum straight to DOUBLE") {
    for (direct <- Seq(
        "SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue FROM orders",
        "SELECT CAST(SUM(CAST(v AS DECIMAL(20,4))) OVER (ORDER BY id\n ROWS 1 PRECEDING) AS DOUBLE) FROM t",
        "SELECT CAST(COALESCE(SUM(CAST(v AS DECIMAL(20,4))), 0) AS DOUBLE) FROM t"))
      assert(decimalSumsToDouble(direct).size == 1, direct)
    assert(decimalSumsToDouble("SELECT CAST(SUM(n) AS BIGINT), CAST(SUM(n) AS DOUBLE) FROM t").isEmpty)
    val oracles = Relational.specs.map(s => s.name -> s.oracle())
    assert(oracles.size > 80)
    for ((name, sql) <- oracles)
      assert(decimalSumsToDouble(sql).isEmpty, s"$name: ${decimalSumsToDouble(sql).mkString("\n")}")
    assert(Relational.q3JoinAggSql.contains(
      "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS revenue"))
  }

  test("q3_join_agg's revenue equals the exact decimal sum per nation") {
    val dir = sf("sf0.001")
    val exact = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "o_totalprice").collect().toSeq
      .groupMapReduce(_.getString(0))(r =>
        BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP))(_ + _)
      .view.mapValues(_.toDouble).toMap
    val got = Relational.q3JoinAgg(spark, dir).select("n_name", "revenue").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact.size > 1)
    assert(got == exact)
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
