package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** End-to-end check of the `spark.sql.extensions=graft.GraftExtensions`
  * deployment path: a session built with the extension must expose every
  * kernel as a plain SQL function, agreeing with the kernels' own eval,
  * and reject malformed calls at analysis with named errors.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** Run `f` on a NEW session over the same SparkContext, built with the
    * extension. (`withExtensions` is the programmatic twin of
    * `spark.sql.extensions=graft.GraftExtensions`; the config form is
    * only read when the SparkContext itself is created, which a shared
    * test JVM can't redo.) */
  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    val base = spark // materialize the shared suite session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(ext ne base, "expected a fresh session for the extension path")
      f(ext)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("GraftExtensions registers every kernel as a SQL function") {
    withExtensionSession { ext =>
      val h = ext.sql("SELECT graft_md5_hash32('spark') AS h").head().getLong(0)
      assert(h == functions.Md5Hash32.hash(UTF8String.fromString("spark")))
      val nb = ext.sql("SELECT graft_md5_nibble_msbs('spark') AS b").head().getLong(0)
      assert(nb == functions.Md5NibbleMsbs.msbs(UTF8String.fromString("spark")))
      val dot = ext.sql(
        "SELECT graft_vector_dot_exact(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0)
      assert(dot == 11.0)
      val vl = ext.sql(
        "SELECT graft_vector_dot_long(array(2L, 3L), array(4L, 5L)) AS d")
        .head().getLong(0)
      assert(vl == 23L)
      // int8 quantize and LSH buckets: shapes + determinism via SQL
      val q8 = ext.sql(
        "SELECT graft_quantize_int8(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT))) AS q")
        .head().getSeq[Long](0)
      assert(q8.length == 2 && q8.forall(v => v >= -127 && v <= 127))
      val buckets = ext.sql(
        "SELECT graft_lsh_buckets_exact(array(CAST(0.5 AS FLOAT)), 2, 3, 1) AS b")
        .head().getSeq[Long](0)
      assert(buckets.length == 2 && buckets.forall(b => b >= 0 && b < 8))
      val common = ext.sql(
        "SELECT graft_sorted_intersect_count(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS c")
        .head().getLong(0)
      assert(common == 2L)
    }
  }

  test("malformed kernel calls fail at analysis with named errors") {
    withExtensionSession { ext =>
      def expect(sql: String, condition: String, mentions: String*): Unit = {
        val e = intercept[AnalysisException](ext.sql(sql).collect())
        assert(e.getCondition == condition, s"$sql: ${e.getMessage}")
        mentions.foreach(m => assert(e.getMessage.contains(m), s"$sql: ${e.getMessage}"))
      }
      val wrongArity = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION"
      expect("SELECT graft_vector_dot_exact(array(1.0D))",
        wrongArity, "graft_vector_dot_exact", "requires 2 parameters")
      expect("SELECT graft_vector_dot_exact(array(1.0D), array(1.0D), array(1.0D))",
        wrongArity, "graft_vector_dot_exact")
      expect("SELECT graft_sorted_intersect_count(array(1L))",
        wrongArity, "graft_sorted_intersect_count", "requires 2 parameters")
      expect("SELECT graft_lsh_buckets_exact(array(CAST(0.5 AS FLOAT)), 2, 3)",
        wrongArity, "graft_lsh_buckets_exact", "requires 4 parameters")
      val v = "array(CAST(0.5 AS FLOAT))"
      // p = 64 would wrap `1L << p` back to bit 0
      expect(s"SELECT graft_lsh_buckets_exact($v, 2, 64, 1)",
        "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", "graft_lsh_buckets_exact", "`p`", "64")
      expect(s"SELECT graft_lsh_buckets_exact($v, 0, 3, 1)",
        "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", "`l`")
      expect(s"SELECT graft_lsh_buckets_exact($v, 2, 3, -1)",
        "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", "`dims`")
      expect(s"SELECT graft_lsh_buckets_exact($v, 2, id, 1) FROM range(2)",
        "NON_FOLDABLE_ARGUMENT", "graft_lsh_buckets_exact", "`p`")
      expect(s"SELECT graft_lsh_buckets_exact($v, 2, 'x', 1)",
        "INVALID_PARAMETER_VALUE.INTEGER", "`p`")
      // the widest legal bucket still works
      val b = ext.sql(s"SELECT graft_lsh_buckets_exact($v, 1, 63, 1) AS b").head().getSeq[Long](0)
      assert(b.length == 1 && b.head >= 0L)
    }
  }
}
