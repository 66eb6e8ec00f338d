package graft.plans

import scala.collection.concurrent.TrieMap

/** Round counts for the record-then-unroll oracles (g5, g7, g9, g25,
  * g26, g27, x30/x31, x32): a loop whose stopping rule is data-driven
  * records how many rounds it ran, per record key (the sf-dir), and its
  * DuckDB oracle — rendered AFTER the queries run, since oracles are
  * thunks — unrolls exactly that many rounds, so only the stopping rule
  * is Spark-derived and every value is recomputed independently.
  *
  * The oracle lookup takes an explicit key, else the key recorded
  * last: last-write-wins, the same resolution the persisted-artifact
  * oracles get from overwriting one parquet path per JVM, and safe
  * because the gate runs one sf-dir per JVM (NOTES.md "ADVICE r13 item
  * 4 (oracle last-key fallback)"). Per-key counts stay addressable for
  * explicit lookups. A query that never recorded renders an
  * intentionally invalid marker query — a loud per-query DuckDB failure
  * instead of a plausible-but-wrong oracle. */
final class Recorded {
  private val counts = TrieMap[String, Int]()
  @volatile private var lastKey: Option[String] = None
  @volatile private var lastN: Int = -1

  /** Record `n` rounds; keyed runs also become the oracle's default. */
  def record(key: Option[String], n: Int): Unit = {
    lastN = n
    key.foreach { k => counts(k) = n; lastKey = Some(k) }
  }

  def apply(key: String): Int = counts(key)

  def get(key: String): Option[Int] = counts.get(key)

  /** The most recent run's count, keyed or not (-1 before any run). */
  def last: Int = lastN

  /** `render(n)` for the chosen key's count, or query `q`'s marker
    * naming every recorded key. */
  def oracle(q: String, key: Option[String])(render: Int => String): String = {
    val recorded = counts.readOnlySnapshot()
    key.orElse(lastKey).flatMap(recorded.get).map(render).getOrElse(
      s"SELECT graft_error_${q}_oracle_without_recorded_run /* keys=${recorded.keys.mkString(";")} */")
  }
}
