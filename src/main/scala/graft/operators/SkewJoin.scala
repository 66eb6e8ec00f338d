package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Salted join for skewed keys (builder brief: "salting for skew").
  *
  * A hot key concentrates its rows on one shuffle partition; salting
  * splits every key into `factor` sub-keys — the big side gets a salt
  * derived from a secondary column (any value works: correctness does
  * not depend on the salt assignment), the other side is replicated
  * `factor`× with every salt, and the join runs on (key, salt). Result
  * is row-for-row identical to the plain join, but the hottest key's
  * rows now spread over `factor` tasks.
  *
  * AQE's skew-join splitting (on by default in Spark 4) handles many
  * cases at runtime; explicit salting remains the tool when a single
  * key exceeds what one task can hold even after AQE splits, or when
  * the skew sits under an aggregation rather than a join.
  */
object SkewJoin {
  /** @param saltSource deterministic big-side column to derive the salt
    *                   from (test reproducibility; `rand()` is equally
    *                   correct in production). */
  def saltedJoin(big: DataFrame, replicated: DataFrame, key: String,
                 saltSource: Column, factor: Int): DataFrame = {
    val spark = big.sparkSession
    import spark.implicits._
    val salted = big.withColumn("__salt", pmod(xxhash64(saltSource), lit(factor)))
    val salts = (0 until factor).map(_.toLong).toDF("__salt")
    val repl = replicated.crossJoin(broadcast(salts))
    salted.join(repl, Seq(key, "__salt")).drop("__salt")
  }

  /** Salted lineitem⋈orders on the join key, then the usual grouped
    * aggregate — output must equal the plain join's (the oracle IS the
    * plain join). */
  def qSalted(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    saltedJoin(li, o, key = "l_orderkey", saltSource = col("l_linenumber"), factor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(20, 4)))
          .cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  def qSaltedSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q26_salted_join", qSalted _, () => qSaltedSql),
  )
}

/** Upsert (MERGE) without a table format: new rows win by key, untouched
  * target rows survive — `updates ∪ (target ⟕anti updates)`. The
  * building block for snapshot maintenance when Delta/Iceberg aren't in
  * play; at scale the anti join shuffles on the key once (or not at all
  * if both sides are bucketed on it — see BucketingSpec).
  */
object Upsert {
  def upsert(target: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      target.join(updates.select(key), Seq(key), "left_anti"))

  /** Orders snapshot upserted with re-priced high-value orders: updated
    * rows replace originals, everything else unchanged. */
  def qUpsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val updates = orders.filter(col("o_totalprice") > 400000)
      .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 4))
    upsert(orders, updates, "o_orderkey")
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  def qUpsertSql: String =
    """WITH updates AS (
      |  SELECT o_orderkey, round(o_totalprice * 1.1, 4) AS o_totalprice
      |  FROM orders WHERE o_totalprice > 400000
      |)
      |SELECT o_orderkey, o_totalprice FROM updates
      |UNION ALL
      |SELECT o_orderkey, round(o_totalprice, 4) FROM orders
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      |ORDER BY o_orderkey""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q27_upsert", qUpsert _, () => qUpsertSql),
  )
}
