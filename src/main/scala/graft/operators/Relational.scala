package graft.operators

import graft.QuerySpec
import graft.plans.Lineage.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Core relational operators over the TPC-H-ish tables, exercising the
  * reference's scan/project/filter/agg/join/sort surface (SURVEY.md §2.1-2.7)
  * at scale, plus the idiomatic Spark extensions (windows, date, json) noted
  * in SURVEY §2.7.
  *
  * Determinism convention for oracle parity (shared by the whole engine):
  * big floating-point sums are quantized per-row to DECIMAL before the
  * aggregate (order-independent exact sum), then the final value is cast
  * back to double. Per-row double arithmetic (products, divisions) is
  * IEEE-deterministic and needs no special handling. `round(x, 6)` guards
  * libm last-ulp differences (log/sqrt) between JVM and DuckDB.
  *
  * Scale notes are inline per query; the global ones: every dimension join
  * below broadcasts the small side explicitly, every top-k is
  * orderBy+limit (Catalyst → TakeOrderedAndProject, no global sort), and
  * filters/projections sit directly on the scan so parquet pushdown fires.
  */
object Relational {
  private val D204 = DecimalType(20, 4)
  private val Out6 = DecimalType(18, 6)
  private val D308 = DecimalType(30, 8)

  /** The TPC-H pricing products of q1_agg and q92 from bounded DECIMAL
    * operands: price DECIMAL(12,4), `1 - discount` and `1 + tax`
    * DECIMAL(5,4). Each product and each sum is then exact decimal
    * arithmetic in Spark and in DuckDB, with no per-row double → decimal
    * rounding step. */
  private def price: Column = col("l_extendedprice").cast(DecimalType(12, 4))
  private def rate(c: Column): Column = c.cast(DecimalType(5, 4))
  private def discounted: Column =
    price * rate(lit(1) - col("l_discount").cast(DecimalType(12, 4)))
  private def charged: Column =
    discounted * rate(lit(1) + col("l_tax").cast(DecimalType(12, 4)))
  private val discountedSql = "CAST(l_extendedprice AS DECIMAL(12,4)) * " +
    "CAST(1 - CAST(l_discount AS DECIMAL(12,4)) AS DECIMAL(5,4))"
  private val chargedSql =
    s"$discountedSql * CAST(1 + CAST(l_tax AS DECIMAL(12,4)) AS DECIMAL(5,4))"
  /** A DECIMAL sum as DOUBLE in the oracle. DuckDB's DECIMAL(38,s) →
    * DOUBLE cast is not correctly rounded (seed-1 sf0.1 lineitem:
    * 5030254529.33470000 → 5030254529.334701); its VARCHAR → DOUBLE
    * parse is, as is Spark's decimal → double. */
  private def doubleSql(dec: String): String = s"CAST(CAST($dec AS VARCHAR) AS DOUBLE)"

  // ------------------------------------------------------------ aggregates

  /** Pricing-summary aggregate (TPC-H Q1 shape): grouped sums/avgs/counts.
    * Exercises SURVEY §2.4 A1/A5/A6 as partial+final hash aggregates — the
    * Catalyst equivalent of the reference's reduceByKey map-side combine
    * (ref MovieSearchEngine.scala:128-151). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(D204)).cast("double").as("sum_base_price"),
        sum(discounted).cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast(D204)).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  def q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty,
      |  ${doubleSql("SUM(CAST(l_extendedprice AS DECIMAL(20,4)))")} AS sum_base_price,
      |  ${doubleSql(s"SUM($discountedSql)")} AS sum_disc_price,
      |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} / COUNT(*) AS avg_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Global top-k by sort (SURVEY §2.5 O1/O2; ref EpinionsGraphFrameAnalysis
    * orderBy(desc).limit(5)). Full tie-break keys keep it deterministic. */
  def q2Topk(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(10)

  def q2TopkSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 10""".stripMargin

  /** Two-join grouped aggregate: customer ⋈ orders with broadcast nation dim
    * (SURVEY §2.3 J2/J5; ref MovieSearchEngine.scala:220,297). The big-big
    * join shuffles on custkey; nation (25 rows) is broadcast explicitly. */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("o_totalprice").cast(D204)).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  def q3JoinAggSql: String =
    s"""SELECT n_name,
      |  ${doubleSql("SUM(CAST(o_totalprice AS DECIMAL(20,4)))")} AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Broadcast fact⋈dim join with a dim-side filter (SURVEY §2.3 J5). The
    * filter on part reduces the broadcast build side before shipping. */
  def q4BroadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).filter(col("p_size") <= 10)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand")
      .agg(sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  def q4BroadcastJoinSql: String =
    s"""SELECT p_brand,
      |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 10
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Multi-key FULL OUTER join (SURVEY §2.3 J3; ref PageRank.scala:36 —
    * airports with only out-links or only in-links both kept). Here: per
    * (user, event_type) total activity vs high-value activity; rows that
    * exist on only one side survive with nulls. */
  def q5FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val all = ev.groupBy("user_id", "event_type").agg(count(lit(1)).as("n_all"))
    val hi = ev.filter(col("value") > 50)
      .groupBy("user_id", "event_type")
      .agg(sum(col("value").cast(D204)).cast("double").as("hi_value"))
    all.join(hi, Seq("user_id", "event_type"), "full_outer")
      .orderBy("user_id", "event_type")
  }

  def q5FullOuterSql: String =
    s"""SELECT COALESCE(a.user_id, h.user_id) AS user_id,
      |       COALESCE(a.event_type, h.event_type) AS event_type,
      |       a.n_all, h.hi_value
      |FROM (SELECT user_id, event_type, COUNT(*) AS n_all
      |      FROM events GROUP BY user_id, event_type) a
      |FULL OUTER JOIN
      |     (SELECT user_id, event_type,
      |             ${doubleSql("SUM(CAST(value AS DECIMAL(20,4)))")} AS hi_value
      |      FROM events WHERE value > 50 GROUP BY user_id, event_type) h
      |ON a.user_id = h.user_id AND a.event_type = h.event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** Filtered scalar aggregate (TPC-H Q6 shape): the filter + projection
    * must push into the parquet scan (SURVEY §2.2 P5/P9). */
  def q6Filter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast(D308)).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  def q6FilterSql: String =
    s"""SELECT
      |  ${doubleSql("SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,8)))")} AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** Distinct aggregates (SURVEY §2.4 A2 — the reference composes
    * countDistinct from two reduceByKeys; we surface it directly). */
  def q7CountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n_orders"),
        countDistinct("l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  def q7CountDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Collect-to-array aggregate (SURVEY §2.4 A8; ref PageRank.scala:33
    * collect_set of in-links). Canonicalized to a sorted joined string so
    * the oracle compare is order-insensitive. */
  def q8CollectSet(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")

  def q8CollectSetSql: String =
    """SELECT o_custkey,
      |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Generator / explode (SURVEY §2.7 F9; ref PageRank.scala:48 explode of
    * in-link array): explode split part names into a word count. */
  def q9Explode(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(20)

  def q9ExplodeSql: String =
    """SELECT w.word AS word, COUNT(*) AS n
      |FROM part, UNNEST(string_split(p_name, ' ')) AS w(word)
      |GROUP BY w.word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin

  // ------------------------------------------------ windows / sets / scalar

  /** Window functions (engine extension per SURVEY §2.4 note: the reference
    * has none; a modern engine needs them). Running sum is decimal-quantized
    * so frame-evaluation strategy differences can't change the result. */
  def q10Window(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("event_id"),
        row_number().over(w).as("rn"),
        sum(col("value").cast(D204)).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_value"))
      .orderBy("user_id", "event_id")
  }

  def q10WindowSql: String =
    s"""SELECT user_id, event_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |  ${doubleSql("SUM(CAST(value AS DECIMAL(20,4))) OVER (PARTITION BY user_id " +
             "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_value
      |FROM events WHERE user_id < 50
      |ORDER BY user_id, event_id""".stripMargin

  /** Left-anti join (SURVEY §2.2 P8 — the reference's not-in-set stopword
    * filter, done as the scalable anti-join): customers with no orders. */
  def q11Anti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  def q11AntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left-semi join: suppliers that ship at least one large-quantity item. */
  def q12Semi(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val li = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 45)
    s.join(li, s("s_suppkey") === li("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  def q12SemiSql: String =
    """SELECT s_suppkey, s_name FROM supplier
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 45)
      |ORDER BY s_suppkey""".stripMargin

  /** Set ops (SURVEY §2.6 — absent in the reference, free in the engine):
    * nations having customers UNION nations having suppliers, deduped. */
  def q13Union(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    c.union(s).distinct().orderBy("nationkey")
  }

  def q13UnionSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** when/otherwise bucketing (ref TwitterStreaming.scala:71-75 — the 0-4 →
    * NEG/NEUTRAL/POS sentiment class mapping, as a relational op). */
  def q14CaseWhen(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        when(col("value") < 5, "low")
          .when(col("value") < 15, "mid")
          .otherwise("high").as("bucket"),
        col("value"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D204)).cast("double").as("total"))
      .orderBy("event_type", "bucket")

  def q14CaseWhenSql: String =
    s"""SELECT event_type,
      |  CASE WHEN value < 5 THEN 'low' WHEN value < 15 THEN 'mid' ELSE 'high' END AS bucket,
      |  COUNT(*) AS n,
      |  ${doubleSql("SUM(CAST(value AS DECIMAL(20,4)))")} AS total
      |FROM events
      |GROUP BY event_type, CASE WHEN value < 5 THEN 'low' WHEN value < 15 THEN 'mid' ELSE 'high' END
      |ORDER BY event_type, bucket""".stripMargin

  /** String + math scalar functions (SURVEY §2.7 F2-F7: regexp_replace,
    * lower, trim, length, split-count, ln, arithmetic). */
  def q15Scalar(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        regexp_replace(lower(col("p_name")), "[aeiou]", "").as("consonants"),
        length(col("p_name")).as("name_len"),
        size(split(col("p_name"), " ")).as("n_words"),
        round(log(col("p_retailprice") + lit(1.0)), 6).as("log_price"),
        round(col("p_retailprice") * (lit(1.0) - lit(0.1)) + col("p_size"), 6).as("adj_price"),
        trim(concat(lit("  "), upper(col("p_name")), lit("  "))).as("trimmed"))
      .orderBy("p_partkey")
      .limit(200)

  def q15ScalarSql: String =
    """SELECT p_partkey,
      |  regexp_replace(lower(p_name), '[aeiou]', '', 'g') AS consonants,
      |  length(p_name) AS name_len,
      |  len(string_split(p_name, ' ')) AS n_words,
      |  round(ln(p_retailprice + 1.0), 6) AS log_price,
      |  round(p_retailprice * (1.0 - 0.1) + p_size, 6) AS adj_price,
      |  trim('  ' || upper(p_name) || '  ') AS trimmed
      |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin

  /** Date/time functions (engine extension per SURVEY §2.7 note). */
  def q16DateTime(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D204)).cast("double").as("revenue"))
      .orderBy("yr", "mo")

  def q16DateTimeSql: String =
    s"""SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  COUNT(*) AS n_orders,
      |  ${doubleSql("SUM(CAST(o_totalprice AS DECIMAL(20,4)))")} AS revenue
      |FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
      |ORDER BY yr, mo""".stripMargin

  /** Incremental rollup (engine extension): per-(day, type) daily
    * aggregates REAGGREGATED to monthly — the materialized-view /
    * incremental-ETL pattern. At 100 TB the daily frame is what an
    * ingestion pipeline persists per partition; month-end merges the
    * dailies instead of rescanning raw events. Counts merge as
    * sum-of-counts, value sums as sums of exact DECIMAL partials
    * (order/grouping-independent), and the average is derived from the
    * MERGED sums — never an average of averages. The oracle computes
    * monthly DIRECTLY from raw events, so the hash match proves the
    * two-level path exact, not just close. */
  def q33IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(year(col("ts")).as("yr"), month(col("ts")).as("mo"),
        dayofmonth(col("ts")).as("dy"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(D204)).as("vsum"))
    daily
      .groupBy("yr", "mo", "event_type")
      .agg(sum("n").cast("long").as("n_events"),
        sum("vsum").cast("double").as("sum_value"),
        (sum("vsum").cast("double") / sum("n")).as("avg_value"),
        count(lit(1)).cast("long").as("n_days"))
      .orderBy("yr", "mo", "event_type")
  }

  def q33IncrementalRollupSql: String =
    s"""SELECT year(ts) AS yr, month(ts) AS mo, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  ${doubleSql("SUM(CAST(value AS DECIMAL(20,4)))")} AS sum_value,
      |  ${doubleSql("SUM(CAST(value AS DECIMAL(20,4)))")} / COUNT(*) AS avg_value,
      |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
      |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** JSON extraction (engine extension; `props` column per FIXTURES.md). */
  def q17Json(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").cast("long").as("sum_k"),
        min("k").cast("long").as("min_k"), max("k").cast("long").as("max_k"))
      .orderBy("event_type")

  // Integer aggregates are cast to BIGINT on both sides: DuckDB types an
  // uncast integer SUM as HUGEINT (decimal128 over Arrow), which hash-differs
  // from Spark's int64 even when the values are equal.
  def q17JsonSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(json_extract_string(props, '$.k')::INT) AS BIGINT) AS sum_k,
      |  CAST(MIN(json_extract_string(props, '$.k')::INT) AS BIGINT) AS min_k,
      |  CAST(MAX(json_extract_string(props, '$.k')::INT) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Set difference + intersection (SURVEY §2.6 extension — free in the
    * engine, surfaced for completeness): nations with customers but no
    * suppliers, and nations with both. */
  def q18SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    val only = c.except(s).withColumn("which", lit("customers_only"))
    val both = c.intersect(s).withColumn("which", lit("both"))
    only.union(both).orderBy("which", "nationkey")
  }

  def q18SetOpsSql: String =
    """SELECT nationkey, which FROM (
      |  SELECT nationkey, 'customers_only' AS which FROM (
      |    SELECT c_nationkey AS nationkey FROM customer
      |    EXCEPT SELECT s_nationkey FROM supplier)
      |  UNION ALL
      |  SELECT nationkey, 'both' AS which FROM (
      |    SELECT c_nationkey AS nationkey FROM customer
      |    INTERSECT SELECT s_nationkey FROM supplier)
      |) ORDER BY which, nationkey""".stripMargin

  /** ROLLUP grouping-sets aggregate (engine extension per SURVEY §2.4
    * note: absent in the reference; subtotal rows surface as NULL keys). */
  def q19Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def q19RollupSql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** CUBE with grouping_id (engine extension completing the grouping
    * family next to q19's ROLLUP): all 4 grouping sets of the two keys in
    * one pass — Catalyst expands the cube BEFORE the single shuffle, so
    * the cost is one hash aggregate over 4× the rows, not 4 scans.
    * grouping_id disambiguates a real NULL key from a rolled-up one. */
  def q28Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))
      .orderBy(asc("gid"),
        asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def q28CubeSql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty,
      |  COUNT(*) AS n_rows,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid ASC, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** GROUPING SETS — the explicit member of the grouping family next to
    * q19's ROLLUP and q28's CUBE: exactly the two single-key subtotal
    * sets of (returnflag, linestatus) — no pair cells, no grand total —
    * a shape neither rollup nor cube expresses without post-filtering.
    * Catalyst expands the sets before ONE hash aggregate (one shuffle
    * over 2× the rows), same execution as rollup/cube. */
  def q35GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def q35GroupingSetsSql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** SCD-2 dimension build (engine extension): each customer's order
    * history becomes versioned rows with [valid_from, valid_to) validity
    * intervals via lead() — the slowly-changing-dimension type-2 shape a
    * warehouse maintains for point-in-time joins (q24's as-of join is
    * the read side of this table). valid_to is NULL on the current
    * version. ONE shuffle on custkey; both windows share the same
    * partitioning and sort, so Catalyst runs them in a single Window
    * operator and the per-customer sort happens once — no global sort
    * at any scale. */
  def q36Scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("version_n", row_number().over(w).cast("long"))
      .withColumn("valid_from", col("o_orderdate"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select("o_custkey", "version_n", "o_orderkey", "valid_from",
        "valid_to", "o_totalprice", "is_current")
      .orderBy("o_custkey", "version_n")
  }

  def q36Scd2Sql: String =
    """WITH v AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate AS valid_from, o_totalprice,
      |    CAST(row_number() OVER w AS BIGINT) AS version_n,
      |    lead(o_orderdate) OVER w AS valid_to
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |)
      |SELECT o_custkey, version_n, o_orderkey, valid_from, valid_to,
      |  o_totalprice, (valid_to IS NULL) AS is_current
      |FROM v ORDER BY o_custkey, version_n""".stripMargin

  /** Hive-style partitioned write + partition-pruned read (engine
    * extension; the layout feature a 100 TB corpus lives on): documents
    * land partitioned by lang, the read filters one partition, and the
    * scan's PartitionFilters prune every other directory before a single
    * row is read (assert-checked in PlanAuditSpec). Sum is cast to
    * BIGINT on both engines (DuckDB HUGEINT rule). */
  def q29PartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Artifacts.path(s"docs_bylang_${Tables.norm(dir)}")
    // the partitioned layout is the amortized asset, the pruned read is
    // the operator (q61's discipline): write once per (session, sf-dir)
    graft.plans.Materialized(spark, s"bylang_layout:${Tables.norm(dir)}") {
      Tables.documents(spark, dir)
        .write.mode("overwrite").partitionBy("lang").parquet(path)
      spark.range(1).toDF("ok")
    }
    Tables.parquet(spark, path)
      .filter(col("lang") === "en")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  def q29PartitionPruneSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang = 'en' GROUP BY lang""".stripMargin

  /** CSV sink + header-CSV scan round trip (SURVEY §2.1 S3/S10; ref
    * PageRank.scala:27 read, EpinionsGraphFrameAnalysis.scala:71-131
    * write): parquet → CSV files → CSV scan → typed projection. */
  def q20CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.sources.Artifacts.path(s"csv_nation_${Tables.norm(dir)}")
    Tables.nation(spark, dir)
      .write.mode("overwrite").option("header", "true").csv(tmp)
    Tables.csvHeader(spark, tmp)
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      .orderBy("n_nationkey")
  }

  def q20CsvRoundtripSql: String =
    "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"

  /** PIVOT (engine extension): one column per l_linestatus value, decimal
    * sums — the oracle expresses it as CASE aggregation (identical
    * semantics; Catalyst compiles pivot to the same shape). */
  def q21Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast(D204)).cast("double"))
      .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")

  def q21PivotSql: String =
    s"""SELECT l_returnflag,
      |  ${doubleSql("SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(20,4)) END)")} AS qty_f,
      |  ${doubleSql("SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(20,4)) END)")} AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Wide-to-long unpivot (melt) — the inverse of q21's pivot: per-flag
    * decimal sums spread over three metric columns, then `Dataset.unpivot`
    * back to (key, metric, value) rows. Catalyst compiles this to an
    * Expand node — rows×metrics generated map-side, no shuffle beyond the
    * feeding aggregate; at 100 TB the wide aggregate (6 groups) is tiny,
    * so the melt is free. Oracle expresses the same melt as a UNION ALL
    * (identical semantics, engine-neutral syntax). */
  def q46Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(D204)).cast("double").as("sum_price"),
        sum(col("l_discount").cast(D204)).cast("double").as("sum_disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  def q46UnpivotSql: String =
    s"""WITH wide AS (
      |  SELECT l_returnflag,
      |    ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty,
      |    ${doubleSql("SUM(CAST(l_extendedprice AS DECIMAL(20,4)))")} AS sum_price,
      |    ${doubleSql("SUM(CAST(l_discount AS DECIMAL(20,4)))")} AS sum_disc
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
      |UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM wide
      |UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
      |ORDER BY l_returnflag, metric""".stripMargin

  /** Gaps-and-islands interval merge: per supplier, coalesce overlapping
    * [ship, receipt] date intervals into maximal islands, then report
    * island count and total covered days. The classic two-window shape:
    * a running max of interval ends marks island starts
    * (start > max-so-far), a running sum of those marks numbers the
    * islands — both windows PARTITION BY the key, so at 100 TB each
    * supplier's intervals sort independently; there is no global-order
    * partition anywhere. Frames are explicit ROWS on both engines (the
    * default RANGE frame treats ORDER BY ties differently). */
  def q48IntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    // interval end derived deterministically (the testdata lineitem has no
    // receipt date): ship date + 1..7 days keyed off the line number
    val iv = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("supp"),
        to_date(col("l_shipdate")).as("s"),
        date_add(to_date(col("l_shipdate")),
          (col("l_linenumber") % 7 + 1).cast("int")).as("e"))
    val ord = Window.partitionBy("supp").orderBy("s", "e")
    val prevMax = max(col("e"))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn("ni",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy("supp", "island")
      .agg(min("s").as("is_start"), max("e").as("is_end"))
      .groupBy("supp")
      .agg(count(lit(1)).as("n_islands"),
        sum(datediff(col("is_end"), col("is_start")) + 1)
          .cast("bigint").as("covered_days"))
      .orderBy("supp")
  }

  def q48IntervalMergeSql: String =
    """WITH iv AS (
      |  SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS s,
      |    CAST(l_shipdate AS DATE) + CAST(l_linenumber % 7 + 1 AS INT) AS e
      |  FROM lineitem),
      |fl AS (
      |  SELECT supp, s, e,
      |    CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w THEN 1 ELSE 0 END AS ni
      |  FROM iv
      |  WINDOW w AS (PARTITION BY supp ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |isl AS (
      |  SELECT supp, s, e,
      |    SUM(ni) OVER (PARTITION BY supp ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM fl),
      |merged AS (
      |  SELECT supp, island, MIN(s) AS is_start, MAX(e) AS is_end
      |  FROM isl GROUP BY supp, island)
      |SELECT supp, count(*) AS n_islands,
      |  CAST(SUM(date_diff('day', is_start, is_end) + 1) AS BIGINT) AS covered_days
      |FROM merged GROUP BY supp ORDER BY supp""".stripMargin

  /** Fixed-bin numeric histogram + cumulative distribution over
    * `events.value` — the profiling shape that REPLACES q22's exact
    * per-group percentiles at scale: one map-side-combinable aggregate
    * over bin = floor((v−lo)/width) (clamped), then a tiny window over
    * the ~n_bins rows for the CDF. At 100 TB the exact-percentile sort
    * is the bottleneck; this histogram is one scan + a 32-row window,
    * and quantile estimates read off the CDF. Bin arithmetic is
    * IEEE-double division + floor — bit-identical on both engines; the
    * CDF ratio is the usual round→DECIMAL(18,6) output. */
  def q49Histogram(spark: SparkSession, dir: String,
                   lo: Double = 0.0, hi: Double = 1000.0,
                   nBins: Int = 32): DataFrame = {
    val width = (hi - lo) / nBins
    val rawBin = floor((col("value") - lo) / width)
    val bin = least(greatest(rawBin, lit(0L)), lit(nBins.toLong - 1))
    val counts = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val total = counts.agg(sum("n").cast("long").as("n_total"))
    counts.crossJoin(broadcast(total))
      .withColumn("cum_n", sum(col("n")).over(w).cast("bigint"))
      .select(col("bin").cast("bigint").as("bin"), col("n"), col("cum_n"),
        round(col("cum_n").cast("double") / col("n_total"), 6)
          .cast(DecimalType(18, 6)).as("cdf"))
      .orderBy("bin")
  }

  def q49HistogramSql(lo: Double = 0.0, hi: Double = 1000.0,
                      nBins: Int = 32): String = {
    val width = (hi - lo) / nBins
    s"""WITH counts AS (
       |  SELECT least(greatest(FLOOR((value - $lo) / $width), 0), ${nBins - 1}) AS bin,
       |    count(*) AS n
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM counts),
       |cum AS (
       |  SELECT bin, n,
       |    CAST(SUM(n) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
       |  FROM counts)
       |SELECT CAST(bin AS BIGINT) AS bin, n, cum_n,
       |  CAST(round(CAST(cum_n AS DOUBLE) / n_total, 6) AS DECIMAL(18,6)) AS cdf
       |FROM cum, tot ORDER BY bin""".stripMargin
  }

  /** Inter-event gap statistics per user via lag() — the windowed
    * navigation function family (lag/lead) the other window queries
    * don't exercise. Windows partition by user_id (hash-partitioned,
    * no global sort); ties within a user totally ordered by
    * (ts, event_id) so both engines see the same predecessor. Single-
    * event users surface NULL gaps (canonical on both engines). */
  def q50EventGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag("us", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("gap_us").cast("bigint").as("sum_gap_us"),
        max("gap_us").cast("bigint").as("max_gap_us"))
      .orderBy("user_id")
  }

  def q50EventGapsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |g AS (
      |  SELECT user_id,
      |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
      |  FROM e)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
      |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Ordered funnel (view → click → purchase): per stage, the first
    * qualifying event strictly AFTER the user's previous stage time —
    * the sequential-pattern analytics shape. Each stage is one filtered
    * aggregate + one equi-join on user_id (no window over all events,
    * no cross join); the three stage tables only ever shrink, and the
    * final summary is three broadcast 1-row frames (A7 pattern, no
    * driver action). */
  def q51Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("us") > col("t_view"))
      .groupBy("user_id").agg(min("us").as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("us") > col("t_click"))
      .groupBy("user_id").agg(min("us").as("t_purchase"))
    v.agg(count(lit(1)).as("n_view_users"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click_after_view"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase_after_click"))))
  }

  def q51FunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(us) AS t_click FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us > t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(us) AS t_purchase FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us > t_click GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM v) AS n_view_users,
      |       (SELECT count(*) FROM c) AS n_click_after_view,
      |       (SELECT count(*) FROM p) AS n_purchase_after_click""".stripMargin

  /** Retention cohorts: users grouped by first-active day, counted on
    * each subsequent active day offset (0..7) — the standard cohort
    * triangle. One distinct (user, day) aggregate, one min-day
    * aggregate, one join back on user_id; the output is
    * |cohorts|×|offsets|, metadata-sized at any corpus scale. */
  def q52Retention(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .loopCheckpoint(true) // consumed by the cohort aggregate AND the join
    val first = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(first, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("bigint").as("day_offset"))
      .filter(col("day_offset") <= 7)
      .groupBy("cohort_day", "day_offset").agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  def q52RetentionSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
      |SELECT cohort_day,
      |  CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
      |  count(*) AS n_users
      |FROM days JOIN cohorts USING (user_id)
      |WHERE date_diff('day', cohort_day, day) <= 7
      |GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""".stripMargin

  /** Approximate quantiles by inverting the q49 histogram CDF: for each
    * target quantile, the first bin whose cumulative count reaches
    * q·N, reported with its value bounds — the scale path that replaces
    * q22's exact sort-based percentiles (one scan + 32-row arithmetic;
    * error bounded by bin width). Quantile targets and bin bounds are
    * exact binary fractions, so every comparison is bit-identical
    * across engines. */
  def q53HistQuantiles(spark: SparkSession, dir: String,
                       lo: Double = 0.0, hi: Double = 1000.0,
                       nBins: Int = 32): DataFrame = {
    import spark.implicits._
    val width = (hi - lo) / nBins
    val hist = q49Histogram(spark, dir, lo, hi, nBins)
    val total = hist.agg(max("cum_n").as("n_total"))
    val qs = Seq(0.5, 0.9, 0.99).toDF("q")
    hist.crossJoin(broadcast(total)).crossJoin(broadcast(qs))
      .filter(col("cum_n").cast("double") >= col("q") * col("n_total"))
      .groupBy("q").agg(min("bin").as("bin"))
      .select(col("q").cast(DecimalType(4, 2)).as("q"), col("bin"),
        (lit(lo) + col("bin") * width).as("lo_bound"),
        (lit(lo) + (col("bin") + 1) * width).as("hi_bound"))
      .orderBy("q")
  }

  def q53HistQuantilesSql(lo: Double = 0.0, hi: Double = 1000.0,
                          nBins: Int = 32): String = {
    val width = (hi - lo) / nBins
    s"""WITH counts AS (
       |  SELECT least(greatest(FLOOR((value - $lo) / $width), 0), ${nBins - 1}) AS bin,
       |    count(*) AS n
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |cum AS (
       |  SELECT bin, CAST(SUM(n) OVER (ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
       |  FROM counts),
       |tot AS (SELECT MAX(cum_n) AS n_total FROM cum),
       |qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
       |sel AS (
       |  SELECT q, MIN(bin) AS bin FROM cum, tot, qs
       |  WHERE CAST(cum_n AS DOUBLE) >= q * n_total GROUP BY q)
       |SELECT CAST(q AS DECIMAL(4,2)) AS q, CAST(bin AS BIGINT) AS bin,
       |  $lo + bin * $width AS lo_bound,
       |  $lo + (bin + 1) * $width AS hi_bound
       |FROM sel ORDER BY q""".stripMargin
  }

  /** Calendar gap detection: densify the [min, max] event-day range with
    * a generated sequence, anti-join the observed days, and report each
    * missing day with its distance to the previous observed day — the
    * data-quality check that catches silent ingestion outages. The
    * generated calendar is metadata-sized (one row per day); the only
    * corpus-sized work is the distinct-day aggregate.
    *
    * The synthetic events table has no real gaps, so the query simulates
    * a deterministic outage (drops days where day-of-month % 7 == 3)
    * before detecting — the detection logic is what's under test. */
  def q54MissingDays(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day")).distinct()
      .filter(dayofmonth(col("day")) % 7 =!= 3)
      .loopCheckpoint(true) // consumed by the range agg AND the anti join
    val bounds = days.agg(min("day").as("lo"), max("day").as("hi"))
    val calendar = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    calendar.join(days, Seq("day"), "left_anti")
      .join(broadcast(bounds), col("day") > col("lo"))
      .select(col("day"), datediff(col("day"), col("lo"))
        .cast("bigint").as("days_since_range_start"))
      .orderBy("day")
  }

  def q54MissingDaysSql: String =
    """WITH days AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
      |  WHERE CAST(date_part('day', CAST(ts AS DATE)) AS INT) % 7 != 3),
      |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
      |calendar AS (
      |  SELECT CAST(u.d AS DATE) AS day
      |  FROM bounds, UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS u(d)),
      |missing AS (
      |  SELECT c.day FROM calendar c
      |  WHERE NOT EXISTS (SELECT 1 FROM days d WHERE d.day = c.day))
      |SELECT m.day,
      |  CAST(date_diff('day', b.lo, m.day) AS BIGINT) AS days_since_range_start
      |FROM missing m, bounds b WHERE m.day > b.lo ORDER BY m.day""".stripMargin

  /** Trending top-k: the 3 most frequent event types per tumbling hour —
    * q32's group-top-k rank window applied to time-windowed counts (the
    * "what's trending now" analytics shape; the streaming twin is st1's
    * windowed counts + a per-batch rank). Counts partial-aggregate
    * map-side; the rank window partitions by hour — never a global
    * sort. Ties broken (n desc, event_type asc) — total order. */
  def q55Trending(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("hour").orderBy(desc("n"), asc("event_type"))
    counts.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .orderBy("hour", "rk")
  }

  def q55TrendingSql(k: Int = 3): String =
    s"""WITH counts AS (
       |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |ranked AS (
       |  SELECT hour, event_type, n,
       |    CAST(row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type ASC) AS BIGINT) AS rk
       |  FROM counts)
       |SELECT hour, event_type, n, rk FROM ranked
       |WHERE rk <= $k ORDER BY hour, rk""".stripMargin

  /** A/B experiment lift: deterministic variant assignment (user_id
    * parity — the hash-split shape), per-variant conversion to
    * 'purchase', and the two-proportion z statistic. One per-user
    * aggregate + one 2-row aggregate; the z arithmetic is pure double
    * math over integer counts (division/sqrt are correctly-rounded IEEE
    * ops, identical on both engines) with the standard round→DECIMAL
    * output cast. The same op ORDER is written on both sides — IEEE
    * addition/multiplication are not associative, so the oracle mirrors
    * the expression text, not just the formula. */
  def q56AbLift(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max((col("event_type") === "purchase" && col("value") > 900)
        .cast("long")).as("converted"))
      .withColumn("variant", (col("user_id") % 2).cast("long"))
    val agg = users.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("converted").cast("long").as("conv"))
    val a = agg.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
    val b = agg.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("conv").as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val p = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se2 = p * (lit(1.0) - p) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
    val z = when(se2 > 0, round((pa - pb) / sqrt(se2), 6)).otherwise(lit(0.0))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(pa, 6).cast(DecimalType(18, 6)).as("rate_a"),
        round(pb, 6).cast(DecimalType(18, 6)).as("rate_b"),
        round(pa - pb, 6).cast(DecimalType(18, 6)).as("lift"),
        z.cast(DecimalType(18, 6)).as("z"))
  }

  def q56AbLiftSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 900 THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY user_id),
      |v AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS variant, count(*) AS n,
      |    CAST(SUM(converted) AS BIGINT) AS conv
      |  FROM u GROUP BY 1),
      |a AS (SELECT n AS n_a, conv AS conv_a FROM v WHERE variant = 0),
      |b AS (SELECT n AS n_b, conv AS conv_b FROM v WHERE variant = 1)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CAST(round(CAST(conv_a AS DOUBLE) / n_a, 6) AS DECIMAL(18,6)) AS rate_a,
      |  CAST(round(CAST(conv_b AS DOUBLE) / n_b, 6) AS DECIMAL(18,6)) AS rate_b,
      |  CAST(round((CAST(conv_a AS DOUBLE) / n_a) - (CAST(conv_b AS DOUBLE) / n_b), 6)
      |    AS DECIMAL(18,6)) AS lift,
      |  CAST(CASE WHEN (((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
      |          (1.0 - (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)))) *
      |         ((1.0 / n_a) + (1.0 / n_b))) > 0
      |    THEN round(
      |      ((CAST(conv_a AS DOUBLE) / n_a) - (CAST(conv_b AS DOUBLE) / n_b)) /
      |      sqrt(((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
      |            (1.0 - (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)))) *
      |           ((1.0 / n_a) + (1.0 / n_b))), 6)
      |    ELSE 0.0 END AS DECIMAL(18,6)) AS z
      |FROM a, b""".stripMargin

  /** Ingestion-volume drift detection (the CUSUM mass-curve shape):
    * cumulative deviation of daily event counts from the overall daily
    * mean, plus the drawdown from the running peak — a sustained
    * drawdown marks the day volume shifted. Windows run over one row
    * per DAY (metadata-sized at any corpus scale); the only corpus work
    * is the daily count aggregate. Deviations are exact decimals so the
    * cumulative sums are order-independent. */
  def q57VolumeDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
    val mean = daily.agg(
      round(sum("n").cast("double") / count(lit(1)), 6)
        .cast(DecimalType(18, 6)).as("mean_n"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(mean))
      .withColumn("cum_dev",
        sum(col("n") - col("mean_n")).over(w).cast(DecimalType(18, 6)))
      .withColumn("peak", max("cum_dev").over(w).cast(DecimalType(18, 6)))
      .select(col("day"), col("n"), col("cum_dev"),
        (col("peak") - col("cum_dev")).cast(DecimalType(18, 6)).as("drawdown"))
      .orderBy("day")
  }

  def q57VolumeDriftSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
      |m AS (
      |  SELECT CAST(round(CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) / count(*), 6)
      |    AS DECIMAL(18,6)) AS mean_n FROM daily),
      |c AS (
      |  SELECT day, n,
      |    CAST(SUM(n - mean_n) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,6)) AS cum_dev
      |  FROM daily, m),
      |pk AS (
      |  SELECT day, n, cum_dev,
      |    CAST(MAX(cum_dev) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,6)) AS peak
      |  FROM c)
      |SELECT day, n, cum_dev,
      |  CAST(peak - cum_dev AS DECIMAL(18,6)) AS drawdown
      |FROM pk ORDER BY day""".stripMargin

  /** Blocked fuzzy join (entity resolution): a deterministically
    * corrupted name set (every 10th customer, one char dropped) is
    * matched back to the master list by Levenshtein distance — but only
    * WITHIN suffix blocks (last 4 chars), so the expensive distance
    * runs on block-mates, never the n² cross join; best match per
    * record via a rank window (dist asc, key asc). The standard
    * record-linkage shape: blocking key → candidate equi-join → edit
    * distance → best-match rank. Levenshtein is integer-exact on both
    * engines. */
  def q58FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name")
    val corrupted = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("src_key"),
        concat(substring(col("c_name"), 1, 9), expr("substring(c_name, 11)"))
          .as("dirty_name"))
    val blockedDirty = corrupted
      .withColumn("blk", expr("right(dirty_name, 4)"))
    val blockedMaster = cust
      .select(col("c_custkey").as("cand_key"), col("c_name").as("cand_name"),
        expr("right(c_name, 4)").as("blk"))
    val w = Window.partitionBy("src_key").orderBy(asc("dist"), asc("cand_key"))
    blockedDirty.join(blockedMaster, "blk")
      .withColumn("dist", levenshtein(col("dirty_name"), col("cand_name")).cast("bigint"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("src_key"), col("cand_key").as("matched_key"), col("dist"),
        (col("matched_key") === col("src_key")).cast("long").as("correct"))
      .orderBy("src_key")
  }

  def q58FuzzyJoinSql: String =
    """WITH cust AS (SELECT c_custkey, c_name FROM customer),
      |dirty AS (
      |  SELECT c_custkey AS src_key,
      |    substr(c_name, 1, 9) || substr(c_name, 11) AS dirty_name
      |  FROM cust WHERE c_custkey % 10 = 0),
      |bd AS (SELECT src_key, dirty_name, right(dirty_name, 4) AS blk FROM dirty),
      |bm AS (SELECT c_custkey AS cand_key, c_name AS cand_name,
      |         right(c_name, 4) AS blk FROM cust),
      |cand AS (
      |  SELECT bd.src_key, bm.cand_key,
      |    CAST(levenshtein(bd.dirty_name, bm.cand_name) AS BIGINT) AS dist
      |  FROM bd JOIN bm USING (blk)),
      |best AS (
      |  SELECT src_key, cand_key, dist,
      |    row_number() OVER (PARTITION BY src_key ORDER BY dist ASC, cand_key ASC) AS rk
      |  FROM cand)
      |SELECT src_key, cand_key AS matched_key, dist,
      |  CAST(cand_key = src_key AS BIGINT) AS correct
      |FROM best WHERE rk = 1 ORDER BY src_key""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next event type | current event type) — the behavioral-model shape
    * (next-action prediction features, anomalous-flow detection) that
    * funnels (q51) and gap stats (q50) don't express. One lead() window
    * per user (hash-partitioned by user_id, no global sort; ties totally
    * ordered by (ts, event_id) so both engines pick the same successor),
    * then a |types|² aggregate — the matrix is metadata-sized at any
    * corpus scale. Probabilities divide exact counts by the exact
    * from-state row total (window SUM over the 25-row matrix), one IEEE
    * division, standard round→DECIMAL output cast. */
  def q59MarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy("from_type")
    trans
      .withColumn("p", round(col("n").cast("double") / sum("n").over(wf), 6)
        .cast(DecimalType(18, 6)))
      .orderBy("from_type", "to_type")
  }

  def q59MarkovTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |t AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
      |  FROM e),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n FROM t
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
      |       AS DECIMAL(18,6)) AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** Top-k 3-step event paths — sequential pattern mining over per-user
    * event streams (q59's transition matrix generalized from bigrams to
    * path trigrams): the most common (step1 → step2 → step3) sequences
    * across all users, the table a UX/flow analysis reads first. Two
    * stacked lead() windows share ONE per-user sort (same window spec →
    * single Window node, one hash-partitioned local sort), the trigram
    * aggregate map-side combines to ≤|types|³ rows, and the top-k is
    * orderBy+limit → TakeOrderedAndProject. Ties (n desc, then the path
    * lexicographically) — total order on both engines. */
  def q60EventPaths(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .select(col("event_type").as("step1"),
        lead("event_type", 1).over(w).as("step2"),
        lead("event_type", 2).over(w).as("step3"))
      .filter(col("step3").isNotNull)
      .groupBy("step1", "step2", "step3").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("step1"), asc("step2"), asc("step3"))
      .limit(k)
  }

  def q60EventPathsSql(k: Int = 10): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       |p AS (
       |  SELECT event_type AS step1,
       |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS step2,
       |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS step3
       |  FROM e)
       |SELECT step1, step2, step3, count(*) AS n FROM p
       |WHERE step3 IS NOT NULL GROUP BY 1, 2, 3
       |ORDER BY n DESC, step1 ASC, step2 ASC, step3 ASC LIMIT $k""".stripMargin

  /** SCD-2 change compression: collapse each user's event stream into
    * validity intervals — one row per RUN of equal event_type, with
    * [valid_from, valid_to) event-time bounds (valid_to = the next run's
    * start; NULL marks the current state) — the slowly-changing-dimension
    * history build every warehouse needs when ingesting change events.
    * Two windows share the same per-user (time, event_id) sort: lag()
    * marks run starts, then row_number+lead over the surviving starts
    * assign segment ids and close each interval. Both are
    * hash-partitioned by user — no global sort; output is
    * #state-changes ≪ #events. NULL valid_to rows are canonical on both
    * engines (one open interval per user). */
  def q62Scd2Compress(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val marked = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    marked
      .withColumn("seg_idx", row_number().over(w).cast("long"))
      .withColumn("valid_to_us", lead("us", 1).over(w))
      .select(col("user_id"), col("seg_idx"), col("event_type").as("state"),
        col("us").as("valid_from_us"), col("valid_to_us"))
      .orderBy("user_id", "seg_idx")
  }

  def q62Scd2CompressSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |marked AS (
      |  SELECT user_id, event_id, event_type, us,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
      |  FROM e),
      |starts AS (
      |  SELECT user_id, event_id, event_type, us FROM marked
      |  WHERE prev_type IS NULL OR prev_type != event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS seg_idx,
      |  event_type AS state,
      |  us AS valid_from_us,
      |  lead(us) OVER w AS valid_to_us
      |FROM starts
      |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |ORDER BY user_id, seg_idx""".stripMargin

  /** Robust outlier screening via median absolute deviation: per event
    * type, med = median(value), MAD = median(|value − med|), and the
    * count of values outside med ± 3·1.4826·MAD — the data-quality
    * gate that, unlike mean/stddev z-scores, is not dragged by the very
    * outliers it hunts. Three aggregate passes, each one shuffle of
    * |types| rows; the per-type medians broadcast back onto the scan.
    * Exact interpolated percentiles agree across engines (q22
    * precedent); every comparison operand is the identical IEEE double
    * on both sides, so the boundary cut is bit-identical. */
  def q63MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
      .loopCheckpoint(true) // scanned by all three passes
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        first("med").as("med0"), first("mad").as("mad0"),
        sum(when(abs(col("value") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).cast("long").as("n_outliers"))
      .select(col("event_type"), col("n"),
        round(col("med0"), 6).as("med"), round(col("mad0"), 6).as("mad"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  def q63MadOutliersSql: String =
    """WITH ev AS (
      |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM ev GROUP BY event_type),
      |mad AS (
      |  SELECT ev.event_type, quantile_cont(abs(value - med), 0.5) AS mad
      |  FROM ev JOIN med USING (event_type) GROUP BY ev.event_type)
      |SELECT ev.event_type, count(*) AS n,
      |  round(any_value(med), 6) AS med, round(any_value(mad), 6) AS mad,
      |  CAST(SUM(CASE WHEN abs(value - med) > 3.0 * 1.4826 * mad
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM ev JOIN med USING (event_type) JOIN mad USING (event_type)
      |GROUP BY ev.event_type ORDER BY ev.event_type""".stripMargin

  /** HLL approximate distinct count (SURVEY §2.4 note: surfaced since the
    * reference composes distinct counts by hand). No oracle — sketch
    * algorithms differ across engines; accuracy is asserted against the
    * exact count in RelationalSpec. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(approx_count_distinct("l_orderkey").as("approx_orders"),
        countDistinct("l_orderkey").as("exact_orders"))

  /** Exact interpolated percentiles per group (summary-statistics
    * operator; Spark `percentile` and DuckDB `quantile_cont` share the
    * linear-interpolation definition). */
  def q22Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("event_type")

  def q22PercentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Column profiling (data-curation staple): per-column null count,
    * distinct count, min/max — one pass over the table. */
  def q23Profile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_returnflag"),
        countDistinct("l_returnflag").as("distinct_returnflag"),
        countDistinct("l_partkey").as("distinct_partkey"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        min("l_shipdate").as("min_shipdate"), max("l_shipdate").as("max_shipdate"))

  def q23ProfileSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_returnflag,
      |  COUNT(DISTINCT l_returnflag) AS distinct_returnflag,
      |  COUNT(DISTINCT l_partkey) AS distinct_partkey,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
      |  MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate
      |FROM lineitem""".stripMargin

  /** Top-k rows PER GROUP (curation staple: keep the best k documents
    * per language/domain). Rank window partitioned by the group key —
    * each group sorts independently inside its hash partition, so there
    * is no global sort and no single-partition bottleneck at any group
    * count; full tie-break keys keep the cut deterministic. */
  def q32GroupTopk(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(desc("n_chars"), asc("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= k)
      .orderBy("lang", "rk")
  }

  def q32GroupTopkSql(k: Int = 3): String =
    s"""SELECT lang, doc_id, n_chars, rk FROM (
       |  SELECT lang, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rk
       |  FROM documents)
       |WHERE rk <= $k ORDER BY lang, rk""".stripMargin

  /** Rolling event-time window via RANGE frame (engine extension): per
    * user, the count and value sum over the trailing hour at every
    * event — the feature-engineering shape ("activity in the last N
    * minutes") that tumbling windows can't express. The frame is a
    * RANGE over epoch microseconds, so simultaneous events are peers
    * and the result is order-independent; the window is partitioned by
    * user (no global sort — per-user frames evaluate independently at
    * any scale, skew bounded by the hottest user). The summed value is
    * decimal-quantized first (q10's rule: frame-evaluation strategy
    * must not change the result). */
  def q39Rolling(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-3600000000L, 0L)
    Tables.events(spark, dir)
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast(D204)).over(w).cast("double").as("sum_1h"))
      .orderBy("user_id", "event_id")
  }

  def q39RollingSql: String =
    s"""SELECT user_id, event_id,
      |  count(*) OVER w AS n_1h,
      |  ${doubleSql("SUM(CAST(value AS DECIMAL(20,4))) OVER w")} AS sum_1h
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS us, value
      |      FROM events WHERE user_id < 50)
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Grouped Pearson correlation from exact decimal sums (engine
    * extension): corr(l_quantity, l_extendedprice) per return flag.
    * Spark's built-in `corr` is a streaming-covariance aggregate whose
    * result depends on input order (no DuckDB twin bit-for-bit), so the
    * engine computes the five moment sums as decimal-quantized exact
    * aggregates — one partial-aggregated pass, order-independent by
    * construction — and assembles the textbook formula in doubles only
    * at the very end (identical single-expression chain on both sides,
    * then the standard round→DECIMAL output cast). One shuffle (the
    * groupBy exchange) at production scale; on gate-scale single-row-
    * group files a width-gated pre-exchange ([[Layout.spreadIfNarrow]])
    * additionally unlocks 32-way partial aggregation — it is a no-op
    * whenever the scan is already at session parallelism, so the
    * one-shuffle cost claim holds at scale (ADVICE r11). */
  def q40GroupedCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(D204)
    val y = col("l_extendedprice").cast(D204)
    val dec = DecimalType(38, 8)
    Layout.spreadIfNarrow(Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(dec)).cast("double").as("sxy"),
        sum((col("l_quantity") * col("l_quantity")).cast(dec)).cast("double").as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec)).cast("double").as("syy"))
      .select(col("l_returnflag"), col("n"),
        round((col("n").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n").cast("double") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n").cast("double") * col("syy") - col("sy") * col("sy"))), 6)
          .cast(DecimalType(18, 6)).as("corr"))
      .orderBy("l_returnflag")
  }

  def q40GroupedCorrSql: String =
    s"""WITH m AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |    ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sx,
      |    ${doubleSql("SUM(CAST(l_extendedprice AS DECIMAL(20,4)))")} AS sy,
      |    ${doubleSql("SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8)))")} AS sxy,
      |    ${doubleSql("SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,8)))")} AS sxx,
      |    ${doubleSql("SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8)))")} AS syy
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, n,
      |  CAST(round((CAST(n AS DOUBLE) * sxy - sx * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
      |     sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DECIMAL(18,6)) AS corr
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q100: grouped OLS regression (engine extension; the per-segment
    * trend-fit a feature store materializes — "price per unit and base
    * offset, by return flag"): slope/intercept/R² of
    * l_extendedprice ~ l_quantity per group, assembled from the SAME
    * five exact-decimal moment sums as [[q40GroupedCorr]] — one
    * partial-aggregated pass, order-independent by construction — with
    * the textbook closed forms evaluated in doubles only at the end
    * (identical single-expression chain on both sides; the intercept
    * consumes the UNROUNDED slope expression so no intermediate
    * quantization exists to diverge). One shuffle at any scale, the
    * q40 cost argument verbatim. */
  def q100GroupedOls(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(D204)
    val y = col("l_extendedprice").cast(D204)
    val dec = DecimalType(38, 8)
    val nD = col("n").cast("double")
    val vx = nD * col("sxx") - col("sx") * col("sx")
    val vy = nD * col("syy") - col("sy") * col("sy")
    val cov = nD * col("sxy") - col("sx") * col("sy")
    val slope = cov / vx
    Layout.spreadIfNarrow(Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(dec)).cast("double").as("sxy"),
        sum((col("l_quantity") * col("l_quantity")).cast(dec)).cast("double").as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec)).cast("double").as("syy"))
      .select(col("l_returnflag"), col("n"),
        round(slope, 6).cast(Out6).as("slope"),
        round((col("sy") - slope * col("sx")) / nD, 6).cast(Out6).as("intercept"),
        round((cov * cov) / (vx * vy), 6).cast(Out6).as("r2"))
      .orderBy("l_returnflag")
  }

  def q100GroupedOlsSql: String =
    s"""WITH m AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |    ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sx,
      |    ${doubleSql("SUM(CAST(l_extendedprice AS DECIMAL(20,4)))")} AS sy,
      |    ${doubleSql("SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8)))")} AS sxy,
      |    ${doubleSql("SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,8)))")} AS sxx,
      |    ${doubleSql("SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8)))")} AS syy
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, n,
      |  CAST(round((CAST(n AS DOUBLE) * sxy - sx * sy) /
      |    (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS DECIMAL(18,6)) AS slope,
      |  CAST(round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) /
      |    (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS intercept,
      |  CAST(round(((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)) /
      |    ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DECIMAL(18,6)) AS r2
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** Correlated scalar subqueries through the engine's SQL front end
    * (SQL-surface extension): orders whose total exceeds 1.5× their own
    * customer's average order value. The SAME ANSI text runs on both
    * engines (Catalyst decorrelates the two scalar subqueries into
    * aggregate+join — exactly the plan a hand-written join would give,
    * so the SQL surface costs nothing at scale). The comparison is
    * cross-multiplied into exact decimal arithmetic
    * (2·n·price > 3·Σprice ⟺ price > 1.5·Σ/n) so no division or
    * rounding exists to diverge between engines. */
  private def q41SubquerySql(table: String): String =
    s"""SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
       |FROM $table o
       |WHERE 2 * (SELECT count(*) FROM $table o2
       |           WHERE o2.o_custkey = o.o_custkey)
       |        * CAST(o.o_totalprice AS DECIMAL(20,4))
       |    > 3 * (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(20,4)))
       |           FROM $table o2 WHERE o2.o_custkey = o.o_custkey)
       |ORDER BY o.o_orderkey""".stripMargin

  def q41Subquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_q41")
    spark.sql(q41SubquerySql("orders_q41"))
  }

  def q41SubqueryOracle: String = q41SubquerySql("orders")

  /** Per-group top-k through the bounded typed [[TopKAggregator]]
    * (engine extension): top-5 users by decimal-exact value sum per
    * event type. Versus q32's rank-window formulation, the aggregator
    * holds O(k) state per group, partials run map-side, and only k
    * pairs per group per partition reach the shuffle — the shape that
    * wins when groups are huge and k is small. The oracle is the plain
    * rank window: both formulations must agree row-for-row. */
  def q42TopkAgg(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val sums = Tables.events(spark, dir)
      .groupBy("event_type", "user_id")
      .agg(sum(col("value").cast(D204)).cast("double").as("sv"))
      .as[(String, Long, Double)]
    sums.groupByKey(_._1)
      .mapValues { case (_, u, v) => (u, v) }
      .agg(new graft.functions.TopKAggregator(k).toColumn.name("topk"))
      .toDF("event_type", "topk")
      .select(col("event_type"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
        col("p._2").as("user_id"), col("p._1").as("sum_value"))
      .orderBy("event_type", "rk")
  }

  def q42TopkAggSql(k: Int = 5): String =
    s"""WITH s AS (
       |  SELECT event_type, user_id,
       |    ${doubleSql("SUM(CAST(value AS DECIMAL(20,4)))")} AS sum_value
       |  FROM events GROUP BY event_type, user_id
       |), r AS (
       |  SELECT event_type, user_id, sum_value,
       |    row_number() OVER (PARTITION BY event_type
       |                       ORDER BY sum_value DESC, user_id ASC) AS rk
       |  FROM s
       |)
       |SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id, sum_value
       |FROM r WHERE rk <= $k ORDER BY event_type, rk""".stripMargin

  /** Snapshot diff — the CDC/regression-diff operator (engine
    * extension): given two versions of a keyed table, emit every key
    * that was added, removed, or changed. The "new" snapshot here is
    * derived deterministically from `orders` by md5 bucket (≈5% rows
    * removed, ≈10% status-changed, ≈5% new keys appended), so both
    * engines reconstruct the identical pair of snapshots and the diff
    * itself — one full outer join on the key plus a null/inequality
    * case — is fully oracle-checked. At scale the join is the only
    * shuffle, and a bucketed/partitioned layout on the key makes it
    * co-located. */
  def q43SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    val b = graft.text.TextStats.hashBucket(col("o_orderkey"))
    val newSnap = o.filter(b >= 13)
      .select(col("o_orderkey"),
        when(b < 38, lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"))
      .union(o.filter(b >= 243)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus")))
    o.select(col("o_orderkey"), col("o_orderstatus").as("old_status"))
      .join(newSnap.select(col("o_orderkey"), col("o_orderstatus").as("new_status")),
        Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        when(col("old_status").isNull, "added")
          .when(col("new_status").isNull, "removed")
          .when(col("old_status") =!= col("new_status"), "changed")
          .otherwise("same").as("change"),
        col("old_status"), col("new_status"))
      .filter(col("change") =!= "same")
      .orderBy("o_orderkey")
  }

  def q43SnapshotDiffSql: String = {
    val bucket = graft.text.TextStats.hashBucketSqlExpr("o_orderkey")
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderstatus, $bucket AS b FROM orders
       |), new_snap AS (
       |  SELECT o_orderkey,
       |    CASE WHEN b < 38 THEN 'X' ELSE o_orderstatus END AS o_orderstatus
       |  FROM o WHERE b >= 13
       |  UNION ALL
       |  SELECT o_orderkey + 10000000, 'N' FROM o WHERE b >= 243
       |), d AS (
       |  SELECT COALESCE(a.o_orderkey, n.o_orderkey) AS o_orderkey,
       |    a.o_orderstatus AS old_status, n.o_orderstatus AS new_status
       |  FROM o a FULL OUTER JOIN new_snap n ON a.o_orderkey = n.o_orderkey
       |)
       |SELECT o_orderkey,
       |  CASE WHEN old_status IS NULL THEN 'added'
       |       WHEN new_status IS NULL THEN 'removed'
       |       WHEN old_status <> new_status THEN 'changed'
       |       ELSE 'same' END AS change,
       |  old_status, new_status
       |FROM d
       |WHERE old_status IS NULL OR new_status IS NULL OR old_status <> new_status
       |ORDER BY o_orderkey""".stripMargin
  }

  /** JSON-lines sink + schema'd source roundtrip (S-surface extension,
    * the q20 contract for JSON): write → read with an explicit schema
    * (never inference — at 100 TB schema inference is a full extra
    * scan) → aggregate; the oracle recomputes from the source table, so
    * the roundtrip must be lossless. */
  def q44JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.sources.Artifacts.path(s"json_docs_${Tables.norm(dir)}")
    Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").json(tmp)
    spark.read.schema("doc_id LONG, lang STRING, n_chars LONG").json(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("n_chars"))
      .orderBy("lang")
  }

  def q44JsonRoundtripSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** ORC sink + source roundtrip (the second columnar format beside
    * parquet; same q20 contract). */
  def q45OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.sources.Artifacts.path(s"orc_lineitem_${Tables.norm(dir)}")
    Tables.lineitem(spark, dir).select("l_linestatus", "l_quantity")
      .write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"))
      .orderBy("l_linestatus")
  }

  def q45OrcRoundtripSql: String =
    s"""SELECT l_linestatus, count(*) AS n,
      |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** q67: distribution-rank windows — ntile decile, percent_rank and
    * cume_dist of each order's total WITHIN its priority class, the
    * relative-standing triple behind per-segment pricing tiers and
    * SLA percentile reports (completes the ranking-window family next
    * to q10's rank/lag and q32's row_number top-k).
    *
    * Determinism: the window orders by (o_totalprice, o_orderkey) — a
    * total order — so ntile's row numbering and the rank ratios are
    * identical cross-engine; both ratios are 6-dp-quantized. Scale: one
    * shuffle on o_orderpriority, per-partition sorts only (no global
    * sort in the computation; percentiles of a skewed partition would
    * salt first at q26's discipline). */
  def q67Ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(10).over(w).as("decile"),
        round(percent_rank().over(w), 6).cast(DecimalType(18, 6)).as("pct_rank"),
        round(cume_dist().over(w), 6).cast(DecimalType(18, 6)).as("cume"))
      .orderBy("o_orderkey")
  }

  def q67NtileSql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  ntile(10) OVER w AS decile,
      |  CAST(round(percent_rank() OVER w, 6) AS DECIMAL(18,6)) AS pct_rank,
      |  CAST(round(cume_dist() OVER w, 6) AS DECIMAL(18,6)) AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** q68: forward-fill imputation — carry each user's last observed
    * purchase value forward across their subsequent events
    * (last_value IGNORE NULLS over a running frame), the gap-fill
    * shape for sparse sensor/price observations joined to a dense
    * event stream; −1 marks rows before any observation. The filled
    * values are raw parquet doubles copied, not recomputed, so they
    * hash identically cross-engine. Scale: one shuffle on user_id,
    * per-user ordered frames — state is one value per partition row,
    * no global sort in the computation. */
  def q68ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        when(col("event_type") === "purchase", col("value")).as("pv"))
      .select(col("user_id"), col("event_id"), col("us"),
        coalesce(last("pv", ignoreNulls = true).over(w), lit(-1.0)).as("filled"))
      .orderBy("user_id", "us", "event_id")
  }

  def q68ForwardFillSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN event_type = 'purchase' THEN value END AS pv
      |  FROM events)
      |SELECT user_id, event_id, us,
      |  COALESCE(last_value(pv IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    CAST(-1 AS DOUBLE)) AS filled
      |FROM e ORDER BY user_id, us, event_id""".stripMargin

  /** q70: TPC-H Q5-shaped regional local-supplier volume — revenue by
    * nation for orders where the customer and the line's supplier sit in
    * the SAME nation, restricted to one region and one order year. The
    * classic 6-table join-reorder exercise: lineitem⋈orders⋈customer is
    * the fact spine (two key shuffles Catalyst orders), supplier joins
    * on l_suppkey with the c_nationkey = s_nationkey locality predicate
    * INSIDE the join, and nation/region are broadcast dims whose region
    * filter prunes before anything wide. Revenue terms are IEEE products
    * quantized to DECIMAL(20,4) per row before the shuffle sum (the q1
    * discipline; date restriction via year() — NTZ/LTZ-flavor safe). */
  def q70RegionalRevenue(spark: SparkSession, dir: String,
                         region: String = "ASIA", yr: Int = 1996): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).filter(year(col("o_orderdate")) === yr)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === region)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .cast(D204)).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  def q70RegionalRevenueSql(region: String = "ASIA", yr: Int = 1996): String =
    s"""SELECT n_name,
       |  ${doubleSql("SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4)))")} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = '$region' AND year(o_orderdate) = $yr
       |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin

  /** q71: TPC-H Q3-shaped shipping priority — top-10 unshipped orders by
    * revenue for one market segment: orders placed before the cutoff
    * whose lines ship after it. Segment filter prunes customer before
    * its join; the final top-k is TakeOrdered, never a global sort. */
  def q71ShippingPriority(spark: SparkSession, dir: String,
                          segment: String = "BUILDING",
                          cutoff: String = "1998-06-30"): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === segment)
    val o = Tables.orders(spark, dir)
      .filter(to_date(col("o_orderdate")) < lit(cutoff))
    val l = Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) > lit(cutoff))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("odate"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .cast(D204)).cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  def q71ShippingPrioritySql(segment: String = "BUILDING",
                             cutoff: String = "1998-06-30"): String =
    s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate,
       |  ${doubleSql("SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4)))")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = '$segment'
       |  AND CAST(o_orderdate AS DATE) < DATE '$cutoff'
       |  AND CAST(l_shipdate AS DATE) > DATE '$cutoff'
       |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
       |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** q72: data-quality audit — the expectation-check stage (Deequ/
    * dbt-test shape) every production pipeline runs before publishing a
    * table: null keys, duplicate keys, out-of-range values, referential
    * orphans, impossible dates, each as one named violation count.
    * Shape: ONE aggregate pass per table (all of a table's checks are
    * case-when sums inside a single scan — adding a check is free),
    * plus one anti-join for referential integrity; the 1-row aggregate
    * frames melt to (check_name, n_violations) rows via explode, so the
    * output is metadata-sized at any corpus scale. */
  def q72DqAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir)
    def melt(df: DataFrame): DataFrame = {
      val cols = df.schema.fieldNames
      df.select(explode(array(cols.map(n =>
        struct(lit(n).as("check_name"), col(n).cast("long").as("n_violations"))): _*))
        .as("e"))
        .select(col("e.check_name").as("check_name"),
          col("e.n_violations").as("n_violations"))
    }
    val ordersChecks = o.agg(
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("orders_null_custkey"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("orders_dup_orderkey"),
      sum(when(year(col("o_orderdate")) > 2001, 1L).otherwise(0L)).as("orders_future_date"))
    val lineChecks = l.agg(
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("lineitem_nonpositive_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L))
        .as("lineitem_discount_range"))
    val custChecks = c.agg(
      (count(lit(1)) - countDistinct(col("c_custkey"))).as("customer_dup_custkey"))
    val orphans = l.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("lineitem_orphan_orderkey"))
    melt(ordersChecks).union(melt(lineChecks)).union(melt(custChecks))
      .union(melt(orphans))
      .orderBy("check_name")
  }

  def q72DqAuditSql: String =
    """SELECT * FROM (
      |  SELECT 'orders_null_custkey' AS check_name,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_dup_orderkey',
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders_future_date',
      |    CAST(SUM(CASE WHEN year(o_orderdate) > 2001 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_nonpositive_qty',
      |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_discount_range',
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'customer_dup_custkey',
      |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
      |  UNION ALL
  -- NOT EXISTS, not NOT IN: the Spark side is a left_anti join, and a
  -- NULL o_orderkey would collapse NOT IN to 0 rows while the anti-join
  -- (and NOT EXISTS) still returns the orphans (ADVICE r7)
      |  SELECT 'lineitem_orphan_orderkey',
      |    CAST((SELECT count(*) FROM lineitem l
      |          WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                            WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
      |) ORDER BY check_name""".stripMargin

  /** q73: TPC-H Q18-shaped large-volume orders — the HAVING-subquery
    * join shape. The per-order quantity aggregate (map-side combined)
    * filters to the tiny qualifying-key set, which BROADCASTS into a
    * semi-join that prunes lineitem BEFORE the orders/customer joins —
    * lineitem is scanned exactly twice (aggregate + detail), never
    * re-scanned per row the way a naive correlated HAVING would.
    * Quantity sums ride DECIMAL(20,4) (exact, order-independent);
    * `o_totalprice` is cast to DOUBLE on both sides (2-dp values ≪ 2⁵³
    * — exact, and it keeps the driver's hash off raw DECIMAL bytes).
    * Top-k is TakeOrdered on the broadcast-pruned aggregate. */
  def q73BigOrders(spark: SparkSession, dir: String, minQty: Int = 300): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val keys = l.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(D204)).as("sq"))
      .filter(col("sq") > minQty)
      .select("l_orderkey")
    l.join(broadcast(keys), Seq("l_orderkey"), "left_semi")
      .join(o, col("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_totalprice").cast("double").as("total_price"))
      .agg(sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"))
      .orderBy(desc("total_price"), asc("o_orderkey"))
      .limit(100)
  }

  def q73BigOrdersSql(minQty: Int = 300): String =
    s"""SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate,
       |  CAST(o_totalprice AS DOUBLE) AS total_price,
       |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE l_orderkey IN (
       |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(20,4))) > $minQty)
       |GROUP BY c_name, c_custkey, o_orderkey, odate, total_price
       |ORDER BY total_price DESC, o_orderkey ASC LIMIT 100""".stripMargin

  /** q74: TPC-H Q10-shaped returned-item revenue — top-20 customers by
    * lost revenue on returned lines in one year. Returnflag + year
    * filters push to the scans; nation broadcasts; revenue is the q70
    * per-row-rounded DECIMAL(20,4) sum (order-independent, exact both
    * engines); top-k is TakeOrdered. */
  def q74ReturnedRevenue(spark: SparkSession, dir: String, yr: Int = 1995): DataFrame = {
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(spark, dir).filter(year(col("o_orderdate")) === yr)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .cast(D204)).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  def q74ReturnedRevenueSql(yr: Int = 1995): String =
    s"""SELECT c_custkey, c_name, n_name,
       |  ${doubleSql("SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4)))")} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R' AND year(o_orderdate) = $yr
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** q75: TPC-H Q7-shaped two-nation shipping volume — revenue between a
    * nation pair by ship year. The scale move is dimension-side pruning
    * BEFORE the fact joins: supplier and customer each broadcast-join
    * nation and filter to the two nations of interest, so the shuffled
    * join inputs are ~2/25 of the raw tables; lineitem's ship-date
    * window is a RANGE predicate on the scan (parquet pushdown — a
    * `year()` wrapper would not push). The cross-pair requirement
    * (supp_nation ≠ cust_nation) filters before the aggregate. Revenue
    * rides the q70 discipline: per-row round → DECIMAL(20,4) exact sum →
    * double at the end. Output is a handful of (nation, nation, year)
    * rows — metadata-sized. */
  def q75VolumeShipping(spark: SparkSession, dir: String,
                        natA: String = "NATION_1", natB: String = "NATION_2"): DataFrame = {
    val n = Tables.nation(spark, dir)
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(natA, natB))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(natA, natB))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    l.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .cast(D204)).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  def q75VolumeShippingSql(natA: String = "NATION_1", natB: String = "NATION_2"): String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |  ${doubleSql("SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4)))")} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND ((n1.n_name = '$natA' AND n2.n_name = '$natB')
       |    OR (n1.n_name = '$natB' AND n2.n_name = '$natA'))
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q76: TPC-H Q14-shaped promo revenue share — the conditional-
    * aggregate ratio over one ship month. The month window is a range
    * predicate on the scan (pushdown); the part join shuffles on partkey
    * with only (p_partkey, p_type) read (column pruning — at 100 TB part
    * is fact-sized, not broadcastable, but two columns of it shuffle
    * cheaply). Numerator and denominator are exact DECIMAL(20,4) sums in
    * ONE aggregate pass; the share is a single double division of two
    * exact-valued doubles (identical IEEE on both engines), rounded to
    * 6 dp. */
  def q76PromoShare(spark: SparkSession, dir: String,
                    from: String = "1995-09-01", until: String = "1995-10-01"): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
    val p = Tables.part(spark, dir).select("p_partkey", "p_type")
    val rev = round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).cast(D204)
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", rev)
        .otherwise(lit(java.math.BigDecimal.ZERO).cast(D204))).as("promo_dec"),
        sum(rev).as("total_dec"), count(lit(1)).as("n_lines"))
      .select(col("promo_dec").cast("double").as("promo_revenue"),
        col("total_dec").cast("double").as("total_revenue"),
        col("n_lines"),
        round(lit(100.0) * col("promo_dec").cast("double") /
          col("total_dec").cast("double"), 6).as("promo_share"))
  }

  /** q77: TPC-H Q8-shaped national market share — one supplier nation's
    * share of a region's revenue in one part type, by order year. The
    * two fact-reducing filters (p_type on part, the 2-year order-date
    * range on orders) push into their scans BEFORE any join; the
    * customer-side region restriction flows through a broadcast
    * nation⋈region dim (region is 5 rows, nation 25 — the classic
    * snowflake collapse), and the supplier side broadcasts nation the
    * same way. The share is a conditional aggregate over ONE pass:
    * numerator and denominator ride exact DECIMAL(20,4) sums, one
    * double division per year row at the end. */
  def q77MarketShare(spark: SparkSession, dir: String, region: String = "ASIA",
                     nation: String = "NATION_2", ptype: String = "STANDARD"): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val custRegion = Tables.customer(spark, dir)
      .join(broadcast(n.join(broadcast(r),
        col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === region).select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val supNation = Tables.supplier(spark, dir)
      .join(broadcast(n.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val part = Tables.part(spark, dir)
      .filter(col("p_type") === ptype).select("p_partkey")
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val rev = round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).cast(D204)
    Tables.lineitem(spark, dir)
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === nation, rev)
        .otherwise(lit(java.math.BigDecimal.ZERO).cast(D204))).as("nat_dec"),
        sum(rev).as("tot_dec"), count(lit(1)).as("n_lines"))
      .select(col("o_year"),
        col("nat_dec").cast("double").as("nation_revenue"),
        col("tot_dec").cast("double").as("total_revenue"),
        col("n_lines"),
        round(col("nat_dec").cast("double") / col("tot_dec").cast("double"), 6)
          .as("mkt_share"))
      .orderBy("o_year")
  }

  def q77MarketShareSql(region: String = "ASIA", nation: String = "NATION_2",
                        ptype: String = "STANDARD"): String =
    s"""WITH agg AS (
       |  SELECT year(o_orderdate) AS yr,
       |    SUM(CASE WHEN sn.n_name = '$nation'
       |        THEN CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))
       |        ELSE CAST(0 AS DECIMAL(20,4)) END) AS nat_dec,
       |    SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))) AS tot_dec,
       |    COUNT(*) AS n_lines
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN region ON cn.n_regionkey = r_regionkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |  WHERE p_type = '$ptype' AND r_name = '$region'
       |    AND o_orderdate >= TIMESTAMP '1995-01-01'
       |    AND o_orderdate < TIMESTAMP '1997-01-01'
       |  GROUP BY yr
       |)
       |SELECT CAST(yr AS BIGINT) AS o_year,
       |  CAST(nat_dec AS DOUBLE) AS nation_revenue,
       |  CAST(tot_dec AS DOUBLE) AS total_revenue, n_lines,
       |  round(CAST(nat_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE), 6) AS mkt_share
       |FROM agg ORDER BY o_year""".stripMargin

  /** q80: TPC-H Q12-shaped priority classification — per category (the
    * dataset has no l_shipmode; l_returnflag stands in), how many order
    * lines shipped in the window belong to urgent/high-priority orders
    * vs the rest. The ship-date range pushes into the lineitem scan;
    * the orders side joins on orderkey with only (o_orderkey,
    * o_orderpriority) read (column pruning); both counters come out of
    * ONE conditional aggregate pass. All outputs exact integers (SQL
    * side CASTs the CASE-sums to BIGINT — the DuckDB HUGEINT rule). */
  def q80PriorityClass(spark: SparkSession, dir: String,
                       from: String = "1996-01-01", until: String = "1998-01-01"): DataFrame = {
    val hi = Seq("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(sum(when(col("o_orderpriority").isin(hi: _*), 1).otherwise(0))
             .cast("long").as("high_line_count"),
        sum(when(col("o_orderpriority").isin(hi: _*), 0).otherwise(1))
             .cast("long").as("low_line_count"))
      .orderBy("l_returnflag")
  }

  def q80PriorityClassSql(from: String = "1996-01-01", until: String = "1998-01-01"): String =
    s"""SELECT l_returnflag,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$until'
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q81: TPC-H Q13-shaped customer order-count distribution — how many
    * customers placed exactly k (non-urgent) orders, INCLUDING the
    * zero-order customers the left-outer join preserves (the shape's
    * point: an inner join would silently drop the biggest bucket). Two
    * aggregate levels, both shuffling only keys+counts; the orders side
    * filter (the stand-in for Q13's not-like comment predicate) pushes
    * below the join. */
  def q81CustDist(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    Tables.customer(spark, dir).select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // counts non-null only
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  def q81CustDistSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN (
      |    SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority != '1-URGENT'
      |  ) o ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q82: TPC-H Q17-shaped small-quantity-order revenue — average yearly
    * revenue lost if small orders (below 20% of a part's mean quantity)
    * were not filled, over one brand. The per-part threshold is a
    * correlated aggregate made deterministic: the mean is an exact
    * DECIMAL(20,4) sum divided by the count (one double division), and
    * 0.2·mean is the identical IEEE expression on both engines, so the
    * strict `<` comparison can never flip cross-engine. The brand's
    * part-id set is tiny → explicitly broadcast into both the lineitem
    * probe and the threshold join; the revenue output is the exact
    * decimal sum cast to double, divided by 7.0 (identical IEEE). */
  def q82SmallQtyRevenue(spark: SparkSession, dir: String,
                         brand: String = "Brand#1"): DataFrame = {
    val pids = Tables.part(spark, dir)
      .filter(col("p_brand") === brand).select("p_partkey")
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(pids), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .loopCheckpoint(true) // feeds the threshold aggregate AND the probe
    val thr = l.groupBy(col("l_partkey").as("t_partkey"))
      .agg((lit(0.2) * (sum(col("l_quantity").cast(D204)).cast("double") /
        count(lit(1)))).as("thr"))
    l.join(broadcast(thr), col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("thr"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast(D204)).as("sum_dec"))
      .select(col("n_lines"),
        col("sum_dec").cast("double").as("sum_price"),
        (col("sum_dec").cast("double") / lit(7.0)).as("avg_yearly"))
  }

  def q82SmallQtyRevenueSql(brand: String = "Brand#1"): String =
    s"""WITH bl AS (
       |  SELECT l_partkey, l_quantity, l_extendedprice
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_brand = '$brand'
       |), thr AS (
       |  SELECT l_partkey AS t_partkey,
       |    0.2 * (${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} / COUNT(*)) AS thr
       |  FROM bl GROUP BY l_partkey
       |)
       |SELECT COUNT(*) AS n_lines,
       |  ${doubleSql("SUM(CAST(l_extendedprice AS DECIMAL(20,4)))")} AS sum_price,
       |  ${doubleSql("SUM(CAST(l_extendedprice AS DECIMAL(20,4)))")} / 7.0 AS avg_yearly
       |FROM bl JOIN thr ON l_partkey = t_partkey
       |WHERE l_quantity < thr""".stripMargin

  /** q83: TPC-H Q21-shaped sole-late-supplier ranking — suppliers who
    * were the ONLY late shipper (ship date > order date + `lateDays`)
    * on a multi-supplier order. The EXISTS / NOT-EXISTS pair of the
    * original becomes two bounded aggregates: per (order, supplier) an
    * any-late flag (one pass over the join), per order the supplier and
    * late-supplier counts — then the qualifying pairs join back and
    * count per supplier name. Nothing wider than (order, supplier)
    * pairs ever shuffles; the top-10 is TakeOrderedAndProject. All
    * outputs exact integers + names; ties break on name. */
  def q83SoleLateSupplier(spark: SparkSession, dir: String,
                          lateDays: Int = 90, k: Int = 10): DataFrame = {
    val lo = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
    val perSupp = lo.groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"), 1).otherwise(0))
        .as("late"))
      .loopCheckpoint(true) // feeds the per-order rollup AND the pair filter
    val perOrder = perSupp.groupBy(col("l_orderkey").as("g_orderkey"))
      .agg(count(lit(1)).as("n_supps"), sum("late").cast("long").as("n_late"))
      .filter(col("n_supps") >= 2 && col("n_late") === 1)
    perSupp.filter(col("late") === 1)
      .join(perOrder, col("l_orderkey") === col("g_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(k)
  }

  def q83SoleLateSupplierSql(lateDays: Int = 90, k: Int = 10): String =
    s"""WITH per_supp AS (
       |  SELECT l_orderkey, l_suppkey,
       |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL $lateDays DAY THEN 1 ELSE 0 END) AS late
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY l_orderkey, l_suppkey
       |), per_order AS (
       |  SELECT l_orderkey AS g_orderkey, COUNT(*) AS n_supps,
       |    CAST(SUM(late) AS BIGINT) AS n_late
       |  FROM per_supp GROUP BY l_orderkey
       |)
       |SELECT s_name, COUNT(*) AS numwait
       |FROM per_supp
       |JOIN per_order ON l_orderkey = g_orderkey AND n_supps >= 2 AND n_late = 1
       |JOIN supplier ON l_suppkey = s_suppkey
       |WHERE late = 1
       |GROUP BY s_name ORDER BY numwait DESC, s_name ASC LIMIT $k""".stripMargin

  /** q84: TPC-H Q22-shaped idle-rich-customer audit — per nation (the
    * dataset's stand-in for the phone country code), how many customers
    * hold an above-average balance yet placed no RECENT order (none
    * since `since` — this corpus's order history covers nearly every
    * customer, so Q22's literal no-orders-ever test matches nobody; the
    * recent-inactivity window keeps the shape AND a non-trivial result
    * set), and their total balance. The global threshold (mean of
    * positive balances) is ONE exact-decimal aggregate broadcast into
    * the filter; the inactivity test is a LEFT ANTI join on custkey
    * against the date-pruned orders scan (never a per-customer
    * subquery); output sums are exact decimal sums cast to double. */
  def q84IdleRichCustomers(spark: SparkSession, dir: String,
                           since: String = "2000-01-01"): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val thr = c.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast(D204)).cast("double") /
        count(lit(1))).as("thr"))
    c.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("thr"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit(since).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast(D204)).cast("double").as("totacctbal"))
      .orderBy("cntrycode")
  }

  def q84IdleRichCustomersSql(since: String = "2000-01-01"): String =
    s"""WITH thr AS (
       |  SELECT ${doubleSql("SUM(CAST(c_acctbal AS DECIMAL(20,4)))")} / COUNT(*) AS thr
       |  FROM customer WHERE c_acctbal > 0
       |)
       |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
       |  ${doubleSql("SUM(CAST(c_acctbal AS DECIMAL(20,4)))")} AS totacctbal
       |FROM customer CROSS JOIN thr
       |WHERE c_acctbal > thr
       |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
       |                        WHERE o_orderdate >= TIMESTAMP '$since')
       |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin

  /** q85: TPC-H Q15-shaped top supplier (ref capability family:
    * `StandaloneScala/README.md` batch analytics; Q15's revenue view +
    * scalar-subquery max) — per-supplier revenue over a 3-month ship
    * window, returning the supplier(s) whose revenue equals the global
    * maximum. Per-supplier revenue is an exact DECIMAL(20,4) sum, so
    * the `rev = max(rev)` equality is exact-decimal on both engines and
    * can never flip on an IEEE ulp (doubles appear only in the final
    * output cast). The ~100-row revenue view is localCheckpoint'd once
    * (it feeds the max aggregate AND the equality filter — one lineitem
    * scan, not two); the 1-row max rides a broadcast nested-loop, the
    * supplier dim a broadcast hash join. At scale the only shuffle is
    * the partial-aggregated groupBy(l_suppkey) sum; the date window
    * pushes into the lineitem scan. */
  def q85TopSupplier(spark: SparkSession, dir: String,
                     from: String = "1997-01-01", until: String = "1997-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .cast(D204)).as("rev_dec"))
      .loopCheckpoint(true) // feeds the max aggregate AND the equality filter
    val mx = rev.agg(max(col("rev_dec")).as("max_dec"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev_dec") === col("max_dec"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  def q85TopSupplierSql(from: String = "1997-01-01", until: String = "1997-04-01"): String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |    SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))) AS rev_dec
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$until'
       |  GROUP BY l_suppkey
       |)
       |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  /** q86: TPC-H Q19-shaped disjunctive-branch revenue — three OR'd
    * brand/size/quantity branches evaluated across the part⋈lineitem
    * join (this dataset has no p_container/l_shipmode, so p_size and
    * l_quantity carry the branch structure). The planning point of the
    * shape: the predicate is written ONCE against the joined row, and
    * Catalyst must extract each side's disjunction — the part-only
    * (brand AND size) OR-chain into the broadcast build, the
    * lineitem-only quantity OR-chain down to the scan — so the join
    * never probes a row that fails every branch on its own side
    * (plan-audited). Output is one row: line count + exact-decimal
    * revenue cast to double. */
  def q86DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
    val branch1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    j.filter(branch1 || branch2 || branch3)
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .cast(D204)).cast("double").as("revenue"))
  }

  def q86DisjunctiveRevenueSql: String =
    s"""SELECT COUNT(*) AS n_lines,
      |  ${doubleSql("SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4)))")} AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** q87: TPC-H Q9-shaped product-type profit — per (supplier nation,
    * order year), profit = Σ revenue − cost over lines whose part name
    * matches a substring (Q9's LIKE '%green%'; this dataset has no
    * partsupp, so supply cost is the documented stand-in: 10% of
    * p_retailprice per unit). The name filter pushes to the part scan
    * as StringContains, shrinking the broadcast build BEFORE the
    * exchange; supplier and nation ride two more broadcasts; the only
    * wide work is the lineitem⋈orders key join and the final
    * (nation, year)-keyed aggregate. Profit is exact: both terms are
    * DECIMAL(20,4) at birth, the subtraction and sums exact, one
    * double cast at the end. */
  def q87NationProfit(spark: SparkSession, dir: String,
                      pattern: String = "bolt"): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_name").contains(pattern))
      .select("p_partkey", "p_retailprice")
    val amount =
      (round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).cast(D204) -
        round(col("p_retailprice") * col("l_quantity") * lit(0.1), 4).cast(D204))
        .as("amount")
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"), amount)
      .groupBy("nation", "o_year")
      .agg(count(lit(1)).as("n_lines"),
        sum("amount").cast("double").as("sum_profit"))
      .orderBy(asc("nation"), desc("o_year"))
  }

  def q87NationProfitSql(pattern: String = "bolt"): String =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  COUNT(*) AS n_lines,
       |  ${doubleSql("SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4)) - " +
              "CAST(round(p_retailprice * l_quantity * 0.1, 4) AS DECIMAL(20,4)))")} AS sum_profit
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%$pattern%'
       |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin

  /** q89: TPC-H Q18 shape — large-volume customers: orders whose total
    * line quantity exceeds the threshold, with customer identity and
    * order facts, by price. The pattern is aggregate-then-semi-join: the
    * per-order quantity roll-up (exact decimal, map-side combinable)
    * FILTERS FIRST, so only the handful of qualifying orderkeys — a
    * metadata-sized frame at any SF (46 at sf0.01, TPC-H's own
    * selectivity at t=300) — flows into the joins, each as an explicit
    * broadcast build against the bigger table. The quantity threshold
    * compares exact decimals, never an IEEE sum. */
  def q89BigQtyOrders(spark: SparkSession, dir: String,
                      threshold: Int = 300, k: Int = 20): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(D204)).as("sum_qty_d"))
      .filter(col("sum_qty_d") > lit(threshold))
    val sel = Tables.orders(spark, dir)
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
    Tables.customer(spark, dir)
      .join(broadcast(sel), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty_d").cast("double").as("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(k)
  }

  def q89BigQtyOrdersSql(threshold: Int = 300, k: Int = 20): String =
    s"""SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       |  CAST(sum_qty_d AS DOUBLE) AS sum_qty
       |FROM (
       |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(20,4))) AS sum_qty_d
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(20,4))) > $threshold
       |) big
       |JOIN orders ON o_orderkey = big.l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT $k""".stripMargin

  /** q90: TPC-H Q10 shape — returned-item revenue ranking: customers
    * ranked by revenue lost to returns (`l_returnflag = 'R'`) on orders
    * placed in one quarter, with nation context. One shuffle equi-join
    * lineitem⋈orders (both sides date/flag-filtered at the scan — at
    * 100 TB a quarter of orders is NOT broadcastable, so this is the
    * honest plan), per-customer exact-decimal revenue roll-up, then the
    * customer/nation attachment happens AFTER aggregation on the
    * entity-sized frame (nation broadcast). Top-k by (revenue desc,
    * custkey asc) via TakeOrdered on the exact decimal. */
  def q90ReturnedRanking(spark: SparkSession, dir: String,
                         from: String = "1996-01-01", to: String = "1996-04-01",
                         k: Int = 20): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(to))
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .cast(D204)).as("rev_d"))
    rev.join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
        col("c_acctbal"), col("rev_d").cast("double").as("revenue"))
      .orderBy(desc("rev_d"), asc("c_custkey"))
      .limit(k)
  }

  def q90ReturnedRankingSql(from: String = "1996-01-01", to: String = "1996-04-01",
                            k: Int = 20): String =
    s"""SELECT c_custkey, c_name, n_name AS nation, c_acctbal,
       |  CAST(rev_d AS DOUBLE) AS revenue
       |FROM (
       |  SELECT o_custkey,
       |    SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))) AS rev_d
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R'
       |    AND o_orderdate >= TIMESTAMP '$from' AND o_orderdate < TIMESTAMP '$to'
       |  GROUP BY o_custkey
       |) r
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation ON n_nationkey = c_nationkey
       |ORDER BY rev_d DESC, c_custkey ASC LIMIT $k""".stripMargin

  /** q91: TPC-H Q4 shape — order-priority checking: per priority class,
    * how many orders placed in one quarter had at least one slow
    * lineitem. Q4's defining pattern is the EXISTS decorrelated to a
    * LEFT SEMI join — each qualifying order counts ONCE no matter how
    * many lineitems qualify, with no post-join distinct. The lateness
    * predicate (`l_shipdate > o_orderdate + 60 days` — this schema
    * carries shipdate, not Q4's commit/receipt pair, so "slow to ship"
    * stands in for "received past commit") references both sides, so it
    * rides INSIDE the semi-join as a residual condition on the
    * `l_orderkey = o_orderkey` hash join; lineitem is date-prefiltered
    * at the scan (a qualifying lineitem must ship after the window
    * opens), so pushdown prunes most of the fact table before the join.
    * At 100 TB both sides stay distributed (a quarter of orders is not
    * broadcastable) — one shuffle on orderkey, then the grouped count
    * is 5 rows. */
  def q91PriorityCheck(spark: SparkSession, dir: String,
                       from: String = "1996-01-01", to: String = "1996-04-01",
                       lateDays: Int = 60): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(to))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(from))
      .select("l_orderkey", "l_shipdate")
    o.join(li,
        o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  def q91PriorityCheckSql(from: String = "1996-01-01", to: String = "1996-04-01",
                          lateDays: Int = 60): String =
    s"""SELECT o_orderpriority, count(*) AS order_count
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '$from' AND o_orderdate < TIMESTAMP '$to'
       |  AND EXISTS (SELECT 1 FROM lineitem
       |              WHERE l_orderkey = o_orderkey
       |                AND l_shipdate > TIMESTAMP '$from'
       |                AND l_shipdate > o_orderdate + INTERVAL $lateDays DAY)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** q92: the FULL TPC-H Q1 pricing summary — shipdate cutoff pushed to
    * the scan plus the complete eight-aggregate column set (sum_qty,
    * sum_base_price, sum_disc_price, sum_charge, three averages,
    * count_order), closing the named Q1-Q22 shape list (`q1_agg` is the
    * Q1-like three-aggregate warm-up; this is the classic). One
    * partial+final hash-aggregate pass over the filtered scan — 4-6
    * output rows at ANY scale factor, the canonical map-side-combine
    * showcase. Sums are per-row DECIMAL-quantized (order-independent
    * exact totals, engine convention); averages divide the exact sums
    * by the group count in double (IEEE-deterministic). */
  def q92PricingSummary(spark: SparkSession, dir: String,
                        cutoff: String = "1998-09-02"): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit(cutoff).cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(D204)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(D204)).cast("double").as("sum_base_price"),
        sum(discounted).cast("double").as("sum_disc_price"),
        sum(charged).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast(D204)).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(col("l_extendedprice").cast(D204)).cast("double") / count(lit(1))).as("avg_price"),
        (sum(col("l_discount").cast(D204)).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  def q92PricingSummarySql(cutoff: String = "1998-09-02"): String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty,
       |  ${doubleSql("SUM(CAST(l_extendedprice AS DECIMAL(20,4)))")} AS sum_base_price,
       |  ${doubleSql(s"SUM($discountedSql)")} AS sum_disc_price,
       |  ${doubleSql(s"SUM($chargedSql)")} AS sum_charge,
       |  ${doubleSql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} / COUNT(*) AS avg_qty,
       |  ${doubleSql("SUM(CAST(l_extendedprice AS DECIMAL(20,4)))")} / COUNT(*) AS avg_price,
       |  ${doubleSql("SUM(CAST(l_discount AS DECIMAL(20,4)))")} / COUNT(*) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '$cutoff'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q93: the FULL TPC-H Q6 forecasting-revenue-change — the classic
    * adds the one-year shipdate window to `q6_filter`'s discount-band +
    * quantity predicates. All three predicates and the 2-column
    * projection push into the parquet scan (PlanAuditSpec-style shape:
    * the scan reads l_extendedprice/l_discount only and row groups
    * outside the year are skipped on shipdate stats); the aggregate is
    * one exact-decimal sum folded map-side to a single row. */
  def q93RevenueChange(spark: SparkSession, dir: String,
                       from: String = "1995-01-01",
                       until: String = "1996-01-01"): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast(D308))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  def q93RevenueChangeSql(from: String = "1995-01-01",
                          until: String = "1996-01-01"): String =
    s"""SELECT
       |  ${doubleSql("SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,8)))")} AS revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$until'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** q88: per-user EWMA recency features — the time-decay aggregate a
    * feature store materializes per entity ("how active is this user,
    * weighted toward now"): each user's events ordered by (ts, event_id)
    * carry weight 2^-k where k counts back from the most recent event,
    * yielding a normalized EWMA (pandas `ewm(adjust=True)` semantics
    * with decay ½ per step) and the raw decayed sum.
    *
    * Decay ½ is chosen deliberately: with cent-exact values (the events
    * fixture is 2-dp by construction) every 6-dp term value·2^-k is a
    * RATIONAL with a power-of-two denominator, so the whole term
    * pipeline runs in exact INTEGER micro-units — `(v_cents·20000 +
    * 2^k) div 2^(k+1)` IS round-half-up of v_cents·10⁴/2^k, no double
    * round() anywhere. (The first cut used round(value/2^k, 6) doubles
    * and hash-failed by one micro: value/2^k lands on exact decimal
    * .xxxxxx5 ties whenever 2^k divides v_cents·2·10⁴, and Spark's
    * repr-HALF_UP and DuckDB's double rounding split those ties
    * differently. Engineered-tie inputs need integer arithmetic, not
    * libm agreement.) k clamps at 40, provably past the micro floor of
    * both terms. Integer sums are order-independent — partitioning-
    * invariant like every engine aggregate.
    *
    * 100 TB shape: one shuffle on user_id (the window and the aggregate
    * share it — Catalyst reuses the exchange), per-user state is two
    * window counters, output is entity-sized. Skewed power users cost
    * one partition's sort, the standard window trade. */
  def q88UserEwma(spark: SparkSession, dir: String): DataFrame =
    userEwma(Tables.events(spark, dir))

  def userEwma(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    val w = byUser.orderBy("ts", "event_id")
    val k = least(count(lit(1)).over(byUser) - row_number().over(w), lit(40L))
    events
      .select(col("user_id"), col("value"), k.cast("int").as("k"))
      .withColumn("pw", expr("shiftleft(CAST(1 AS BIGINT), k)")) // exact 2^k
      .select(col("user_id"),
        expr("(CAST(round(value * 100) AS BIGINT) * 20000 + pw) DIV (2 * pw)")
          .as("num_u"),
        expr("(2000000 + pw) DIV (2 * pw)").as("den_u"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("num_u").cast("long").as("nsum_u"),
        sum("den_u").cast("long").as("dsum_u"))
      .select(col("user_id"), col("n_events"),
        round(col("nsum_u").cast("double") / col("dsum_u").cast("double"), 6)
          .cast(Out6).as("ewma"),
        (col("nsum_u").cast(DecimalType(24, 0)) / lit(1000000))
          .cast(Out6).as("decay_sum"))
      .orderBy("user_id")
  }

  def q88UserEwmaSql: String =
    """WITH ranked AS (
      |  SELECT user_id, value,
      |    CAST(LEAST(count(*) OVER (PARTITION BY user_id)
      |      - row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id), 40) AS INT) AS k
      |  FROM events
      |), terms AS (
      |  SELECT user_id,
      |    (CAST(round(value * 100) AS BIGINT) * 20000 + (CAST(1 AS BIGINT) << k))
      |      // (2 * (CAST(1 AS BIGINT) << k)) AS num_u,
      |    (2000000 + (CAST(1 AS BIGINT) << k))
      |      // (2 * (CAST(1 AS BIGINT) << k)) AS den_u
      |  FROM ranked
      |)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(round(CAST(SUM(num_u) AS DOUBLE) / CAST(SUM(den_u) AS DOUBLE), 6) AS DECIMAL(18,6)) AS ewma,
      |  CAST(CAST(SUM(num_u) AS DECIMAL(24,0)) / 1000000 AS DECIMAL(18,6)) AS decay_sum
      |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q78: malformed-record resilience — the m20 principle (bad input is
    * countable rows, never task poison) applied to the JSON ingest path.
    * A JSONL artifact is generated from events with a deterministic
    * corruption rule (event_id % 37 → the line is truncated mid-object),
    * read back under PERMISSIVE mode with a corrupt-record column, and
    * summarized per kind with corrupt rows in their own bucket. The
    * oracle recomputes the counts/sums closed-form from the generative
    * rule (the m6/m7 codec-oracle pattern), so the driver gate IS the
    * write→corrupt→parse round trip: every valid line must survive with
    * its exact double value (JSON shortest-repr round trip), every
    * corrupt line must land in `_corrupt`, none may kill the task. At
    * scale this is one scan to write, one to parse — both pipelined,
    * no shuffle beyond the 6-row aggregate. */
  def q78BadRecords(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.sources.Artifacts.path(s"jsonl_events_${Tables.norm(dir)}")
    // null / NaN / ±Inf values serialize as JSON null (a double's string
    // cast would emit invalid JSON for non-finite values, silently
    // reclassifying the row as corrupt; a null would null the whole line
    // and kill the text write) — the row stays VALID with a null value,
    // and the oracle's CASE mirrors the same rule. Current fixtures are
    // all-finite (verified); this pins the contract for ones that aren't.
    val valJson = when(col("value").isNull || isnan(col("value")) ||
        col("value") === Double.PositiveInfinity ||
        col("value") === Double.NegativeInfinity, lit("null"))
      .otherwise(col("value").cast("string"))
    val line = when(col("event_id") % 37 === 0,
        concat(lit("{\"event_id\":"), col("event_id"), lit(",\"event_type\":")))
      .otherwise(concat(lit("{\"event_id\":"), col("event_id"),
        lit(",\"event_type\":\""), col("event_type"),
        lit("\",\"value\":"), valJson, lit("}")))
    Tables.events(spark, dir).select(line.as("value"))
      .write.mode("overwrite").text(tmp)
    spark.read
      .schema("event_id LONG, event_type STRING, value DOUBLE, _bad STRING")
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .json(tmp)
      .groupBy(when(col("_bad").isNotNull, lit("_corrupt"))
        .otherwise(col("event_type")).as("kind"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(round(col("value"), 4).cast(D204)).cast("double"), lit(0.0))
          .as("sum_value"))
      .orderBy("kind")
  }

  def q78BadRecordsSql: String =
    s"""SELECT * FROM (
      |  SELECT event_type AS kind, count(*) AS n_rows,
      |    ${doubleSql("COALESCE(SUM(CAST(round(CASE WHEN value IS NULL OR isnan(value) " +
               "OR isinf(value) THEN NULL ELSE value END, 4) AS DECIMAL(20,4))), 0)")} AS sum_value
      |  FROM events WHERE event_id % 37 != 0 GROUP BY event_type
      |  UNION ALL
      |  SELECT '_corrupt', count(*), 0.0 FROM events WHERE event_id % 37 = 0
      |  HAVING count(*) > 0
      |) ORDER BY kind""".stripMargin

  /** q95: k-anonymity audit over quasi-identifier columns — the
    * release gate a privacy review runs before sharing or training on
    * entity-derived tables: every QI equivalence class (here nation ×
    * market segment on customer) with fewer than k members re-identifies
    * its members, so the audit reports each class's size, its violation
    * flag, and the exact row mass that suppression/generalization must
    * treat. One grouped count on the QI key (map-side combinable,
    * |classes| keys — metadata-sized at any SF); the output IS the
    * suppression worklist, no second corpus pass needed. */
  def q95KAnonymity(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nationkey"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"))
      .select(col("nationkey"), col("segment"), col("n"),
        (col("n") < k).cast("long").as("violates_k"))
      .orderBy("nationkey", "segment")

  def q95KAnonymitySql(k: Int = 10): String =
    s"""SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
       |  count(*) AS n,
       |  CAST(count(*) < $k AS BIGINT) AS violates_k
       |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q79: dynamic-partition-overwrite backfill — the idempotent
    * reprocessing primitive of a partitioned lake: rewrite ONE day's
    * partition (here: the earliest day, re-emitted without its 'view'
    * events) and prove every other partition is untouched. With
    * `partitionOverwriteMode=dynamic`, an overwrite replaces exactly
    * the partitions present in the written frame — the 100 TB backfill
    * contract (static overwrite would truncate the whole table; append
    * would double-count). The backfill target day is selected with a
    * broadcast 1-row min-day frame (no driver action), and the final
    * per-day counts come from reading the artifact back, so the driver
    * gate verifies the on-disk partition state, not the plan's
    * intention. Oracle recomputes the expected per-day counts closed
    * form from the same rule. */
  def q79DynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.sources.Artifacts.path(s"day_events_${Tables.norm(dir)}")
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_id"), col("event_type"))
    ev.write.mode("overwrite").partitionBy("day").parquet(tmp)
    val minDay = ev.agg(min(col("day")).as("d"))
    val backfill = ev.join(broadcast(minDay), col("day") === col("d"))
      .filter(col("event_type") =!= "view")
      .select("day", "event_id", "event_type")
    // per-WRITE dynamic overwrite (the DataFrameWriter option), not a
    // session-conf set/restore: the same hygiene class the r13 CC fix
    // removed — a concurrent overwrite on the session must never see
    // this write's mode, and two overlapping calls cannot race a restore
    dynamicOverwrite(backfill.write).partitionBy("day").parquet(tmp)
    Tables.parquet(spark, tmp)
      .groupBy("day").agg(count(lit(1)).as("n_rows"))
      .orderBy("day")
  }

  /** Dynamic-partition-overwrite as a per-write option — shared by
    * [[q79DynamicOverwrite]] and its spec so both exercise the same
    * write semantics without touching session conf. */
  def dynamicOverwrite[T](w: org.apache.spark.sql.DataFrameWriter[T])
      : org.apache.spark.sql.DataFrameWriter[T] =
    w.mode("overwrite").option("partitionOverwriteMode", "dynamic")

  def q79DynamicOverwriteSql: String =
    // the trailing NOT EXISTS mirrors dynamic overwrite's no-op edge: if
    // the target day has ONLY view rows, the backfill frame is empty,
    // the overwrite writes no partitions, and the stale day survives —
    // so the oracle must keep it too (latent-fixture guard; current
    // test dirs always have non-view rows on the min day)
    """WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
      |md AS (SELECT min(day) AS d FROM ev)
      |SELECT day, count(*) AS n_rows FROM ev, md
      |WHERE day != d OR event_type != 'view'
      |   OR NOT EXISTS (SELECT 1 FROM ev e2, md m2
      |                  WHERE e2.day = m2.d AND e2.event_type != 'view')
      |GROUP BY day ORDER BY day""".stripMargin

  def q76PromoShareSql(from: String = "1995-09-01", until: String = "1995-10-01"): String =
    s"""WITH agg AS (
       |  SELECT
       |    SUM(CASE WHEN p_type = 'PROMO'
       |        THEN CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))
       |        ELSE CAST(0 AS DECIMAL(20,4)) END) AS promo_dec,
       |    SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))) AS total_dec,
       |    COUNT(*) AS n_lines
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$until'
       |)
       |SELECT CAST(promo_dec AS DOUBLE) AS promo_revenue,
       |  CAST(total_dec AS DOUBLE) AS total_revenue, n_lines,
       |  round(100.0 * CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE), 6) AS promo_share
       |FROM agg""".stripMargin

  // ---------------------------------------------------- synthetic partsupp

  /** Synthetic `partsupp` relation (the one TPC-H table the fixtures
    * omit; q87 documents the same gap for supply cost): supplier
    * assignment and supply facts are DETERMINISTIC integer functions of
    * the keys, so both engines rebuild the identical relation from the
    * part scan × one broadcast supplier-count row — no stored table, no
    * randomness (ref TPC-H spec §4.2.3 partsupp shape; the reference
    * repo has no partsupp workload at all).
    *
    *  - suppliers of part p: s_j = (31·p + 13·j + 7) mod n, j ∈ 0..3 —
    *    exactly four per part (TPC-H's own fan-out), distinct whenever
    *    n ∤ {13, 26, 39} (all fixture supplier counts: 10/100/1000);
    *  - ps_cost_cents = (31·p + 17·s) mod 90000 + 10000 — integer cents
    *    in [100.00, 999.99], so cost mins/compares run in exact BIGINT
    *    end to end with one double division at output;
    *  - ps_availqty = (7·p + 3·s) mod 9999 + 1.
    *
    * Scale shape: |partsupp| = 4·|part| BY CONSTRUCTION — a per-part
    * explode over a 4-element array expression, linear and fully
    * pipelined (no join, no shuffle); the supplier-count frame is one
    * broadcast row. Callers pass their already-FILTERED part frame so
    * the explode rides the pruned scan (q96/q99 never generate rows for
    * parts their predicate drops). Twin: [[partsuppCtes]]. */
  def synthPartsupp(spark: SparkSession, dir: String, parts: DataFrame): DataFrame = {
    val n1 = broadcast(
      Tables.supplier(spark, dir).agg((max("s_suppkey") + 1).as("n_supp")))
    val keep = parts.columns.map(col)
    parts.crossJoin(n1)
      .withColumn("s_suppkey", explode(array((0 until 4).map(j =>
        (col("p_partkey") * 31 + lit(13 * j + 7)) % col("n_supp")): _*)))
      .withColumn("ps_cost_cents",
        (col("p_partkey") * 31 + col("s_suppkey") * 17) % 90000 + 10000)
      .withColumn("ps_availqty",
        (col("p_partkey") * 7 + col("s_suppkey") * 3) % 9999 + 1)
      .select(keep :+ col("s_suppkey") :+ col("ps_cost_cents") :+ col("ps_availqty"): _*)
  }

  /** Shared oracle CTE block rebuilding [[synthPartsupp]] in DuckDB —
    * exposes `ps(p_partkey, s_suppkey, ps_cost_cents, ps_availqty)`.
    * One definition for all four consumers so the twins cannot drift
    * (the sccCtes discipline). */
  def partsuppCtes: String =
    """maxs AS (SELECT max(s_suppkey) + 1 AS n FROM supplier),
      |psj AS (SELECT p_partkey, n, UNNEST(range(4)) AS j FROM part CROSS JOIN maxs),
      |ps AS (
      |  SELECT p_partkey, (p_partkey * 31 + 13 * j + 7) % n AS s_suppkey,
      |    (p_partkey * 31 + ((p_partkey * 31 + 13 * j + 7) % n) * 17) % 90000 + 10000 AS ps_cost_cents,
      |    (p_partkey * 7 + ((p_partkey * 31 + 13 * j + 7) % n) * 3) % 9999 + 1 AS ps_availqty
      |  FROM psj)""".stripMargin

  /** q96: TPC-H Q2 shape — minimum-cost supplier: for every STANDARD
    * part of size ≤ 15, the EUROPE supplier(s) quoting the minimum
    * supply cost, with balance and nation, richest suppliers first.
    * The part predicate prunes the scan BEFORE the partsupp explode
    * (candidate rows = 4× the filtered parts, not 4× the table);
    * supplier/nation/region ride broadcasts; the per-part min is a
    * whole-partition window min on the p_partkey exchange — ONE
    * shuffle total, and the min-filter keeps cost ties exactly like
    * the oracle's join-back-on-min. Cost compares are integer cents. */
  def q96MinCostSupplier(spark: SparkSession, dir: String,
                         pType: String = "STANDARD", maxSize: Int = 15,
                         region: String = "EUROPE", k: Int = 100): DataFrame = {
    val regionNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === region).select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val eu = Tables.supplier(spark, dir)
      .join(broadcast(regionNations), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === pType && col("p_size") <= maxSize)
      .select("p_partkey", "p_name")
    synthPartsupp(spark, dir, p)
      .join(broadcast(eu), "s_suppkey")
      .withColumn("min_cents",
        min("ps_cost_cents").over(Window.partitionBy("p_partkey")))
      .filter(col("ps_cost_cents") === col("min_cents"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_name"), (col("ps_cost_cents").cast("double") / 100).as("supplycost"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"), asc("p_partkey"))
      .limit(k)
  }

  def q96MinCostSupplierSql(pType: String = "STANDARD", maxSize: Int = 15,
                            region: String = "EUROPE", k: Int = 100): String =
    s"""WITH $partsuppCtes,
       |eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
       |       JOIN nation ON s_nationkey = n_nationkey
       |       JOIN region ON n_regionkey = r_regionkey WHERE r_name = '$region'),
       |cand AS (SELECT p.p_partkey, p.p_name, eu.s_name, eu.s_acctbal, eu.n_name,
       |                ps.ps_cost_cents
       |         FROM part p JOIN ps ON p.p_partkey = ps.p_partkey
       |         JOIN eu ON ps.s_suppkey = eu.s_suppkey
       |         WHERE p.p_type = '$pType' AND p.p_size <= $maxSize),
       |mn AS (SELECT p_partkey, min(ps_cost_cents) AS min_cents FROM cand GROUP BY 1)
       |SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey, c.p_name,
       |  CAST(c.ps_cost_cents AS DOUBLE) / 100 AS supplycost
       |FROM cand c JOIN mn ON c.p_partkey = mn.p_partkey
       |                   AND c.ps_cost_cents = mn.min_cents
       |ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, c.p_partkey LIMIT $k""".stripMargin

  /** q97: TPC-H Q11 shape — important stock: per-part total supply
    * value (cost × availqty, exact integer cents) over one region's
    * suppliers, keeping parts whose value exceeds 1.2× the mean part
    * value. TPC-H's own `> fraction · Σ` literal is scale-DEPENDENT
    * (0.0001 qualifies every part at gate SF and none at 100 TB);
    * comparing against the mean via integer cross-multiply
    * (5·v·n > 6·Σ) is the scale-free restatement — the qualifying set
    * is a stable quantile of the value distribution at any corpus.
    * Global Σ and n ride ONE broadcast 1-row frame (the A7 scalar
    * pattern, no driver action). Products and sums stay DECIMAL(38,0):
    * at 100 TB Σ(cents·qty) passes 2⁶³ and BIGINT would wrap silently —
    * the r11 assoc-rules lift lesson applied at design time. */
  def q97ImportantStock(spark: SparkSession, dir: String,
                        region: String = "ASIA"): DataFrame = {
    val regionSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir)
              .filter(col("r_name") === region).select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val v = synthPartsupp(spark, dir,
        Tables.part(spark, dir).select("p_partkey"))
      .join(broadcast(regionSupp), "s_suppkey")
      .groupBy("p_partkey")
      .agg(sum((col("ps_cost_cents") * col("ps_availqty"))
        .cast(DecimalType(38, 0))).as("val_cents"))
    val tot = broadcast(v.agg(sum("val_cents").as("total"),
      count(lit(1)).as("n_parts")))
    v.crossJoin(tot)
      .filter(col("val_cents") * 5 * col("n_parts") > col("total") * 6)
      .select(col("p_partkey"),
        (col("val_cents").cast("double") / 100).as("value"))
      .orderBy(desc("value"), asc("p_partkey"))
  }

  def q97ImportantStockSql(region: String = "ASIA"): String =
    s"""WITH $partsuppCtes,
       |rsupp AS (SELECT s_suppkey FROM supplier
       |          JOIN nation ON s_nationkey = n_nationkey
       |          JOIN region ON n_regionkey = r_regionkey WHERE r_name = '$region'),
       |v AS (SELECT p_partkey,
       |        SUM(CAST(ps_cost_cents * ps_availqty AS DECIMAL(38,0))) AS val_cents
       |      FROM ps JOIN rsupp USING (s_suppkey) GROUP BY 1),
       |tot AS (SELECT SUM(val_cents) AS total, COUNT(*) AS n_parts FROM v)
       |SELECT p_partkey, CAST(val_cents AS DOUBLE) / 100 AS value
       |FROM v CROSS JOIN tot WHERE 5 * val_cents * n_parts > 6 * total
       |ORDER BY value DESC, p_partkey""".stripMargin

  /** q98: TPC-H Q16 shape — parts/supplier relationship: distinct
    * supplier count per (brand, type, size) for the square-size part
    * classes, excluding one brand, one type, and the "complaint"
    * suppliers (stand-in predicate s_acctbal < 100 — the fixture has
    * no s_comment for Q16's '%Customer%Complaints%' scan; 8 of 100
    * suppliers at sf0.01). The exclusion is a broadcast SEMI join
    * against the qualifying supplier set BEFORE the aggregate (Q16's
    * NOT IN, S6's driver-collect replaced per SURVEY §4) — semi, not
    * anti-vs-complaints, so both twins count only suppkeys that exist
    * in `supplier` (ADVICE r12: an anti join counted synthetic phantom
    * keys on any corpus whose supplier keys are sparse or 1-based,
    * where max+1 ≠ count; the oracle inner-joins supplier and would
    * drop them). Semi ≡ the oracle's inner join for a distinct count
    * because s_suppkey is unique in the dim. The distinct count
    * shuffles once on the three-attribute group key. */
  def q98SupplierCnt(spark: SparkSession, dir: String,
                     exclBrand: String = "Brand#9", exclType: String = "PROMO",
                     minBal: Int = 100): DataFrame = {
    val sizes = Seq(1, 4, 9, 16, 25, 36, 49)
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= exclBrand && col("p_type") =!= exclType &&
        col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val qualifying = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") >= minBal).select("s_suppkey")
    synthPartsupp(spark, dir, p)
      .join(broadcast(qualifying), Seq("s_suppkey"), "left_semi")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("s_suppkey").as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
  }

  def q98SupplierCntSql(exclBrand: String = "Brand#9", exclType: String = "PROMO",
                        minBal: Int = 100): String =
    s"""WITH $partsuppCtes
       |SELECT p_brand, p_type, p_size,
       |  CAST(COUNT(DISTINCT ps.s_suppkey) AS BIGINT) AS supplier_cnt
       |FROM ps JOIN part USING (p_partkey)
       |JOIN supplier ON ps.s_suppkey = supplier.s_suppkey
       |WHERE p_brand <> '$exclBrand' AND p_type <> '$exclType'
       |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
       |  AND s_acctbal >= $minBal
       |GROUP BY 1, 2, 3
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q99: TPC-H Q20 shape — potential part promotion: suppliers in one
    * region holding EXCESS stock of a name-prefixed part — availqty
    * more than half the quantity they themselves shipped of it in the
    * target year. The correlated-subquery chain decorrelates into the
    * classic shape: lineitem pre-aggregates once on
    * (l_partkey, l_suppkey) with the DATE-RANGE predicate pushed to the
    * scan (a year(col) filter would defeat parquet min/max pruning);
    * partsupp explodes off the name-filtered part scan; the excess
    * test is 2·availqty > Σqty in exact decimal; the qualifying
    * supplier set is distinct-projected (semi-join semantics) and
    * broadcast into the supplier dim. */
  def q99PromotionSuppliers(spark: SparkSession, dir: String,
                            prefix: String = "small", yr: Int = 1996,
                            region: String = "ASIA"): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_name").startsWith(prefix)).select("p_partkey")
    val shipped = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(s"$yr-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(s"${yr + 1}-01-01").cast("timestamp"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast(D204)).as("qty"))
    val qual = synthPartsupp(spark, dir, p)
      .join(shipped, col("p_partkey") === col("l_partkey") &&
        col("s_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") * 2 > col("qty"))
      .select("s_suppkey").distinct()
    Tables.supplier(spark, dir)
      .join(broadcast(qual), "s_suppkey")
      .join(broadcast(Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir)
              .filter(col("r_name") === region).select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_name", "s_acctbal")
      .orderBy("s_name")
  }

  def q99PromotionSuppliersSql(prefix: String = "small", yr: Int = 1996,
                               region: String = "ASIA"): String =
    s"""WITH $partsuppCtes,
       |shipped AS (SELECT l_partkey, l_suppkey,
       |              SUM(CAST(l_quantity AS DECIMAL(20,4))) AS qty
       |            FROM lineitem
       |            WHERE l_shipdate >= TIMESTAMP '$yr-01-01'
       |              AND l_shipdate < TIMESTAMP '${yr + 1}-01-01'
       |            GROUP BY 1, 2),
       |qual AS (SELECT DISTINCT ps.s_suppkey
       |         FROM ps JOIN part ON ps.p_partkey = part.p_partkey
       |         JOIN shipped sh ON sh.l_partkey = ps.p_partkey
       |                        AND sh.l_suppkey = ps.s_suppkey
       |         WHERE part.p_name LIKE '$prefix%'
       |           AND 2 * ps.ps_availqty > sh.qty)
       |SELECT s_name, s_acctbal FROM supplier
       |JOIN qual USING (s_suppkey)
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = '$region' ORDER BY s_name""".stripMargin

  /** One registry row per relational query, for SparkEntry. */
  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_agg", q1Agg _, () => q1AggSql),
    QuerySpec("q2_topk", q2Topk _, () => q2TopkSql),
    QuerySpec("q3_join_agg", q3JoinAgg _, () => q3JoinAggSql),
    QuerySpec("q4_broadcast_join", q4BroadcastJoin _, () => q4BroadcastJoinSql),
    QuerySpec("q5_full_outer", q5FullOuter _, () => q5FullOuterSql),
    QuerySpec("q6_filter", q6Filter _, () => q6FilterSql),
    QuerySpec("q7_count_distinct", q7CountDistinct _, () => q7CountDistinctSql),
    QuerySpec("q8_collect_set", q8CollectSet _, () => q8CollectSetSql),
    QuerySpec("q9_explode", q9Explode _, () => q9ExplodeSql),
    QuerySpec("q10_window", q10Window _, () => q10WindowSql),
    QuerySpec("q11_anti_join", q11Anti _, () => q11AntiSql),
    QuerySpec("q12_semi_join", q12Semi _, () => q12SemiSql),
    QuerySpec("q13_union", q13Union _, () => q13UnionSql),
    QuerySpec("q14_case_when", q14CaseWhen _, () => q14CaseWhenSql),
    QuerySpec("q15_scalar_funcs", q15Scalar _, () => q15ScalarSql),
    QuerySpec("q16_datetime", q16DateTime _, () => q16DateTimeSql),
    QuerySpec("q17_json", q17Json _, () => q17JsonSql),
    QuerySpec("q18_set_ops", q18SetOps _, () => q18SetOpsSql),
    QuerySpec("q19_rollup", q19Rollup _, () => q19RollupSql),
    QuerySpec("q20_csv_roundtrip", q20CsvRoundtrip _, () => q20CsvRoundtripSql),
    QuerySpec("q21_pivot", q21Pivot _, () => q21PivotSql),
    QuerySpec("q22_percentiles", q22Percentiles _, () => q22PercentilesSql),
    QuerySpec("q23_profile", q23Profile _, () => q23ProfileSql),
    QuerySpec("q28_cube", q28Cube _, () => q28CubeSql),
    QuerySpec("q29_partition_prune", q29PartitionPrune _, () => q29PartitionPruneSql),
    QuerySpec("q32_group_topk", (s, dir) => q32GroupTopk(s, dir), () => q32GroupTopkSql()),
    QuerySpec("q33_incremental_rollup", q33IncrementalRollup _, () => q33IncrementalRollupSql),
    QuerySpec("q35_grouping_sets", q35GroupingSets _, () => q35GroupingSetsSql),
    QuerySpec("q36_scd2", q36Scd2 _, () => q36Scd2Sql),
    QuerySpec("q39_rolling_window", q39Rolling _, () => q39RollingSql),
    QuerySpec("q40_grouped_corr", q40GroupedCorr _, () => q40GroupedCorrSql, Seq("corr")),
    QuerySpec("q41_correlated_subquery", q41Subquery _, () => q41SubqueryOracle),
    QuerySpec("q42_topk_agg", (s, dir) => q42TopkAgg(s, dir), () => q42TopkAggSql()),
    QuerySpec("q43_snapshot_diff", q43SnapshotDiff _, () => q43SnapshotDiffSql),
    QuerySpec("q44_json_roundtrip", q44JsonRoundtrip _, () => q44JsonRoundtripSql),
    QuerySpec("q45_orc_roundtrip", q45OrcRoundtrip _, () => q45OrcRoundtripSql),
    QuerySpec("q46_unpivot", q46Unpivot _, () => q46UnpivotSql),
    QuerySpec("q48_interval_merge", q48IntervalMerge _, () => q48IntervalMergeSql),
    QuerySpec("q49_histogram", (s, dir) => q49Histogram(s, dir),
      () => q49HistogramSql(), Seq("cdf")),
    QuerySpec("q50_event_gaps", q50EventGaps _, () => q50EventGapsSql),
    QuerySpec("q51_funnel", q51Funnel _, () => q51FunnelSql),
    QuerySpec("q52_retention", q52Retention _, () => q52RetentionSql),
    QuerySpec("q59_markov_transitions", q59MarkovTransitions _,
      () => q59MarkovTransitionsSql, Seq("p")),
    QuerySpec("q60_event_paths", (s, dir) => q60EventPaths(s, dir), () => q60EventPathsSql()),
    QuerySpec("q62_scd2_compress", q62Scd2Compress _, () => q62Scd2CompressSql),
    QuerySpec("q63_mad_outliers", q63MadOutliers _, () => q63MadOutliersSql),
    QuerySpec("q53_hist_quantiles", (s, dir) => q53HistQuantiles(s, dir),
      () => q53HistQuantilesSql(), Seq("q")),
    QuerySpec("q54_missing_days", q54MissingDays _, () => q54MissingDaysSql),
    QuerySpec("q55_trending", (s, dir) => q55Trending(s, dir), () => q55TrendingSql()),
    QuerySpec("q56_ab_lift", q56AbLift _, () => q56AbLiftSql, Seq("rate_a", "rate_b", "lift", "z")),
    QuerySpec("q57_volume_drift", q57VolumeDrift _,
      () => q57VolumeDriftSql, Seq("cum_dev", "drawdown")),
    QuerySpec("q58_fuzzy_join", q58FuzzyJoin _, () => q58FuzzyJoinSql),
    QuerySpec("q67_ntile", q67Ntile _, () => q67NtileSql, Seq("pct_rank", "cume")),
    QuerySpec("q68_forward_fill", q68ForwardFill _, () => q68ForwardFillSql),
    QuerySpec("q70_regional_revenue", (s, dir) => q70RegionalRevenue(s, dir),
      () => q70RegionalRevenueSql()),
    QuerySpec("q71_shipping_priority", (s, dir) => q71ShippingPriority(s, dir),
      () => q71ShippingPrioritySql()),
    QuerySpec("q72_dq_audit", q72DqAudit _, () => q72DqAuditSql),
    QuerySpec("q73_big_orders", (s, dir) => q73BigOrders(s, dir), () => q73BigOrdersSql()),
    QuerySpec("q74_returned_revenue", (s, dir) => q74ReturnedRevenue(s, dir),
      () => q74ReturnedRevenueSql()),
    QuerySpec("q75_volume_shipping", (s, dir) => q75VolumeShipping(s, dir),
      () => q75VolumeShippingSql()),
    QuerySpec("q76_promo_share", (s, dir) => q76PromoShare(s, dir), () => q76PromoShareSql()),
    QuerySpec("q77_market_share", (s, dir) => q77MarketShare(s, dir), () => q77MarketShareSql()),
    QuerySpec("q80_priority_class", (s, dir) => q80PriorityClass(s, dir),
      () => q80PriorityClassSql()),
    QuerySpec("q81_custdist", (s, dir) => q81CustDist(s, dir), () => q81CustDistSql),
    QuerySpec("q82_small_qty_revenue", (s, dir) => q82SmallQtyRevenue(s, dir),
      () => q82SmallQtyRevenueSql()),
    QuerySpec("q83_sole_late_supplier", (s, dir) => q83SoleLateSupplier(s, dir),
      () => q83SoleLateSupplierSql()),
    QuerySpec("q84_idle_rich_customers", (s, dir) => q84IdleRichCustomers(s, dir),
      () => q84IdleRichCustomersSql()),
    QuerySpec("q85_top_supplier", (s, dir) => q85TopSupplier(s, dir), () => q85TopSupplierSql()),
    QuerySpec("q86_disjunctive_revenue", (s, dir) => q86DisjunctiveRevenue(s, dir),
      () => q86DisjunctiveRevenueSql),
    QuerySpec("q87_nation_profit", (s, dir) => q87NationProfit(s, dir), () => q87NationProfitSql()),
    QuerySpec("q88_user_ewma", (s, dir) => q88UserEwma(s, dir),
      () => q88UserEwmaSql, Seq("ewma", "decay_sum")),
    QuerySpec("q89_big_qty_orders", (s, dir) => q89BigQtyOrders(s, dir),
      () => q89BigQtyOrdersSql()),
    QuerySpec("q90_returned_ranking", (s, dir) => q90ReturnedRanking(s, dir),
      () => q90ReturnedRankingSql()),
    QuerySpec("q91_priority_check", (s, dir) => q91PriorityCheck(s, dir),
      () => q91PriorityCheckSql()),
    QuerySpec("q92_pricing_summary", (s, dir) => q92PricingSummary(s, dir),
      () => q92PricingSummarySql()),
    QuerySpec("q93_revenue_change", (s, dir) => q93RevenueChange(s, dir),
      () => q93RevenueChangeSql()),
    QuerySpec("q78_bad_records", q78BadRecords _, () => q78BadRecordsSql),
    QuerySpec("q95_k_anonymity", (s, dir) => q95KAnonymity(s, dir), () => q95KAnonymitySql()),
    QuerySpec("q79_dynamic_overwrite", q79DynamicOverwrite _, () => q79DynamicOverwriteSql),
    QuerySpec("q96_min_cost_supplier", (s, dir) => q96MinCostSupplier(s, dir),
      () => q96MinCostSupplierSql()),
    QuerySpec("q97_important_stock", (s, dir) => q97ImportantStock(s, dir),
      () => q97ImportantStockSql()),
    QuerySpec("q98_supplier_cnt", (s, dir) => q98SupplierCnt(s, dir), () => q98SupplierCntSql()),
    QuerySpec("q99_promotion_suppliers", (s, dir) => q99PromotionSuppliers(s, dir),
      () => q99PromotionSuppliersSql()),
    QuerySpec("q100_grouped_ols", (s, dir) => q100GroupedOls(s, dir),
      () => q100GroupedOlsSql, Seq("slope", "intercept", "r2")),
  )
}
