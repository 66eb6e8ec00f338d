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
}
