package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The SQL entry point: the same engine surface is reachable through
  * `spark.sql` over temp views of the parquet tables — a user can run
  * ANSI SQL against the engine and get plans/results identical to the
  * DataFrame API (Catalyst compiles both to the same logical plan).
  * This is the third leg of the API surface next to the typed Dataset
  * ops and the registered query map. */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("spark.sql over a temp view equals the DataFrame q1 aggregate") {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem_v
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val viaDf = graft.operators.Relational.q1Agg(spark, dir)
      .select("l_returnflag", "l_linestatus", "sum_qty", "n_rows")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(viaSql.toSeq == viaDf.toSeq && viaSql.nonEmpty)
  }

  test("registered SQL function graft_vector_dot_exact is callable from spark.sql") {
    import spark.implicits._
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs_v")
    val got = spark.sql("SELECT graft_vector_dot_exact(a, b) AS dot FROM vecs_v")
      .collect().head.getDouble(0)
    assert(got == 11.0, s"1*3 + 2*4 = 11, got $got")
  }

  test("SQL and DataFrame joins produce the same physical join choice") {
    Tables.nation(spark, dir).createOrReplaceTempView("nation_v")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    val p = spark.sql(
      """SELECT /*+ BROADCAST(n) */ n.n_name, count(*) AS n_cust
        |FROM customer_v c JOIN nation_v n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    assert(p.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "SQL broadcast hint not honored")
    val viaDf = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_cust")).orderBy("n_name")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(p.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == viaDf.toSeq)
  }
}
