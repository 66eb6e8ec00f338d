package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** The record-then-unroll round store: oracle key resolution and the
  * marker an unrecorded query renders. */
class RecordedSpec extends AnyFunSuite {
  private def unroll(n: Int) = s"SELECT $n"

  test("an unrecorded key renders the marker naming the query and the keys") {
    val r = new Recorded
    assert(r.oracle("g7", None)(unroll) ==
      "SELECT graft_error_g7_oracle_without_recorded_run /* keys= */")
    r.record(Some("/sf/a"), 3)
    assert(r.oracle("g7", Some("/sf/b"))(unroll) ==
      "SELECT graft_error_g7_oracle_without_recorded_run /* keys=/sf/a */")
    // an unkeyed run is visible to `last` but is never an oracle default
    val u = new Recorded
    u.record(None, 4)
    assert(u.last == 4)
    assert(u.oracle("x32", None)(unroll) ==
      "SELECT graft_error_x32_oracle_without_recorded_run /* keys= */")
  }

  test("an explicit key beats the last key") {
    val r = new Recorded
    r.record(Some("/sf/a"), 3)
    r.record(Some("/sf/b"), 5)
    assert(r.oracle("g5", Some("/sf/a"))(unroll) == "SELECT 3")
    assert(r("/sf/a") == 3 && r.get("/sf/c").isEmpty)
  }

  test("without a key, the last recorded key wins") {
    val r = new Recorded
    r.record(Some("/sf/a"), 3)
    r.record(Some("/sf/b"), 5)
    assert(r.oracle("g5", None)(unroll) == "SELECT 5")
    r.record(Some("/sf/a"), 7) // re-recording moves the default back
    assert(r.oracle("g5", None)(unroll) == "SELECT 7")
    r.record(None, 9) // an unkeyed run leaves the default alone
    assert(r.oracle("g5", None)(unroll) == "SELECT 7" && r.last == 9)
  }
}
