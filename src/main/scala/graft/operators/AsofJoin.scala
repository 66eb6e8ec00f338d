package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** As-of join — an operator Spark lacks natively (builder brief §custom
  * operators, preference (a): compose existing ops when semantics
  * allow). For each left row, attach the latest right row with
  * `right.ts <= left.ts` within the same key (pandas merge_asof / kdb aj
  * / DuckDB ASOF JOIN semantics).
  *
  * Implementation is the union+window composition, NOT a range join:
  * tag both sides, union, and carry the right payload forward with
  * `last(_, ignoreNulls) OVER (PARTITION BY key ORDER BY ts, side, seq
  * ROWS UNBOUNDED PRECEDING)`, then keep left rows. Right rows sort
  * before left rows at equal ts, so a left row matches a same-timestamp
  * right row (>= semantics, like DuckDB).
  *
  * Scale shape: ONE shuffle (the window partition on key) over
  * |L|+|R| rows — no inequality-join explosion, no per-key sort beyond
  * the window's, and skewed keys are just skewed window partitions
  * (AQE-splittable input). This is the composition that survives 100 TB
  * where a theta-join (|L|×|R| per key) cannot.
  *
  * The DuckDB oracle uses the engine-native `ASOF LEFT JOIN` — two
  * entirely independent implementations of the same semantics.
  */
object AsofJoin {
  /** @param leftSeq deterministic tie-break within equal (key, ts) —
    *                required for reproducible output when left rows tie. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightPayload: Seq[String], leftSeq: String): DataFrame = {
    val leftCols = left.columns
    // side 0 = right, 1 = left → right rows order first at equal ts
    val taggedRight = right.select(
      Seq(col(key), col(ts), lit(0).as("__side"), lit(null).cast("long").as("__seq")) ++
        rightPayload.map(c => col(c).as(s"__r_$c")) ++
        leftCols.filterNot(c => c == key || c == ts).map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val taggedLeft = left.select(
      Seq(col(key), col(ts), lit(1).as("__side"), col(leftSeq).cast("long").as("__seq")) ++
        rightPayload.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")) ++
        leftCols.filterNot(c => c == key || c == ts).map(col): _*)
    val w = Window.partitionBy(key).orderBy(col(ts), col("__side"), col("__seq"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = taggedRight.unionByName(taggedLeft)
      .select(col("*") +: rightPayload.map(c =>
        last(col(s"__r_$c"), ignoreNulls = true).over(w).as(s"asof_$c")): _*)
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ rightPayload.map(c => col(s"asof_$c")): _*)
  }

  /** Broadcast range join: left rows matched to the (small) band table
    * on lo <= v < hi — Catalyst plans the inequality join as a
    * BroadcastNestedLoopJoin, which is exactly right when one side is a
    * handful of bands (the only scalable shape for banding). */
  def rangeJoinBands(df: DataFrame, v: Column, bands: DataFrame): DataFrame =
    df.join(broadcast(bands), v >= col("band_lo") && v < col("band_hi"))

  // -------------------------------------------------------------- queries

  /** For each click event: the user's most recent error value at or
    * before the click. */
  def qAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val errors = ev.filter(col("event_type") === "error")
    asofJoin(clicks, errors, key = "user_id", ts = "ts",
      rightPayload = Seq("value"), leftSeq = "event_id")
      .select(col("event_id"), col("user_id"),
        round(col("value"), 6).as("click_value"),
        round(col("asof_value"), 6).as("last_error_value"))
      .orderBy("event_id")
  }

  def qAsofSql: String =
    """SELECT l.event_id, l.user_id,
      |  round(l.value, 6) AS click_value,
      |  round(r.value, 6) AS last_error_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** Quantity bands per return flag — inequality join against a literal
    * band table, broadcast nested-loop by construction. */
  def qRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(("low", 0.0, 20.0), ("mid", 20.0, 40.0), ("high", 40.0, 1e9))
      .toDF("band", "band_lo", "band_hi")
    rangeJoinBands(Tables.lineitem(spark, dir), col("l_quantity"), bands)
      .groupBy("l_returnflag", "band")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "band")
  }

  def qRangeSql: String =
    """SELECT l_returnflag, b.band, count(*) AS n
      |FROM lineitem
      |JOIN (VALUES ('low', 0.0, 20.0), ('mid', 20.0, 40.0), ('high', 40.0, 1e9))
      |  AS b(band, band_lo, band_hi)
      |  ON l_quantity >= band_lo AND l_quantity < band_hi
      |GROUP BY l_returnflag, b.band ORDER BY l_returnflag, b.band""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q24_asof_join", qAsof _, () => qAsofSql),
    QuerySpec("q25_range_join", qRange _, () => qRangeSql),
  )
}
