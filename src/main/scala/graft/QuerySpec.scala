package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its engine dataflow, its DuckDB oracle, and the
  * DECIMAL output columns both sides project to BIGINT micro-units
  * ([[SparkEntry]]'s hashed-output rule). One row per query, so a query
  * without an oracle, or a decimal list for a name that does not exist,
  * cannot be written down.
  *
  * `oracle` is a thunk: some oracles (g5/g7/g20, the LSH family, s20,
  * s26, ...) unroll counts or read planning caches that only their own
  * query run records, so building the registry must render no SQL.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: () => String,
    microCols: Seq[String] = Nil)

object QuerySpec {
  /** `rows` unchanged, or an error naming every name registered twice. */
  def unique(rows: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    rows
  }
}
