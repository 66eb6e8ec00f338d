package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's artifacts dir is the normalized sibling `<outDir>_artifacts`,
  * never a path inside the dump tree the driver scans as queries. */
class VerifySpec extends AnyFunSuite {
  test("artifacts dir is the out dir's sibling, whatever its spelling") {
    Seq("/tmp/v", "/tmp/v/", "/tmp/v//").foreach { out =>
      assert(Verify.artifactsDir(out) == "/tmp/v_artifacts", out)
    }
    val cwd = java.nio.file.Paths.get("").toAbsolutePath.normalize
    assert(Verify.artifactsDir("./v") == s"$cwd/v_artifacts")
  }

  test("a throwing oracle fails its own row; the other rows' SQL is intact") {
    val rows = Seq(
      QuerySpec("bad_row", (_, _) => null, () => throw new IllegalArgumentException("not seeded */ x")),
      QuerySpec("good_row", (_, _) => null, () => "SELECT 1 AS \"a\"\nFROM t"))
    assert(Verify.oracleJson(rows) ==
      """{"bad_row": "SELECT graft_error_bad_row_oracle_render_failed /* not seeded * / x */",""" +
        """"good_row": "SELECT 1 AS \"a\"\nFROM t"}""")
  }
}
