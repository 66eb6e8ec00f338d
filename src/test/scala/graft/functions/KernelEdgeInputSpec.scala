package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Edge inputs through every kernel: empty and null arrays, all-zero
  * vectors, vectors of unequal length, duplicate-heavy sorted sets, and
  * empty or null strings. Per row, the kernel's Column entry point must
  * equal its `graft_*` SQL name (injected by [[graft.GraftExtensions]])
  * and, where Spark has one, the builtin-expression twin. */
class KernelEdgeInputSpec extends SparkSpec {
  import spark.implicits._

  /** Raw-ScalaCheck bridge, as in [[graft.PropertiesSpec]]. */
  private def check(prop: Prop, n: Int = 10): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, res.status.toString)
  }

  /** Every row's first column equals each of the others. */
  private def agree(df: DataFrame, kernel: Column, sql: String, twin: Option[String]): Boolean =
    df.select(Seq(kernel, expr(sql)) ++ twin.map(expr): _*).collect().forall { r =>
      (1 until r.length).forall(i => r.get(0) == r.get(i)) ||
        fail(s"$sql disagrees on ${df.collect().toSeq}: $r")
    }

  private val element: Gen[Float] = Gen.frequency(
    4 -> Gen.choose(-4.0f, 4.0f), 1 -> Gen.const(0.0f), 1 -> Gen.const(-0.0f),
    1 -> Gen.const(0.5f), 1 -> Gen.const(1e-8f))
  private val vector: Gen[Option[Seq[Float]]] = Gen.frequency(
    6 -> Gen.choose(0, 6).flatMap(Gen.listOfN(_, element)).map(Some(_)),
    2 -> Gen.choose(1, 6).map(n => Some(Seq.fill(n)(0.0f))),
    1 -> Gen.const(Some(Nil)),
    1 -> Gen.const(None))
  /** Pairs of independent length, so most are unequal. */
  private val vectors = Gen.listOfN(24, Gen.zip(vector, vector))
    .map(_.toDF("a", "b"))
  private val code = vector.map(_.map(_.map(x => (x * 30).toLong)))
  private val codes = Gen.listOfN(24, Gen.zip(code, code)).map(_.toDF("a", "b"))
  /** Sorted arrays over a 4-value domain: runs of duplicates everywhere. */
  private val sortedSet: Gen[Option[Seq[Long]]] = Gen.frequency(
    8 -> Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.choose(-1L, 2L))).map(s => Some(s.sorted)),
    1 -> Gen.const(Some(Nil)),
    1 -> Gen.const(None))
  private val sets = Gen.listOfN(24, Gen.zip(sortedSet, sortedSet)).map(_.toDF("a", "b"))
  private val keys = Gen.listOfN(24, Gen.frequency(
    6 -> Gen.alphaNumStr.map(Option(_)), 1 -> Gen.const(Some("")), 1 -> Gen.const(None)))
    .map(_.toDF("k"))

  /** `fold` over `f` applied to the first `least(size(a), size(b))`
    * elements of both sides (the kernels pair elements up to the shorter
    * vector); null when either side is. */
  private def pairFold(f: String, fold: String): String =
    "if(a is null or b is null, null, aggregate(zip_with(slice(a, 1, least(size(a), size(b))), " +
      s"slice(b, 1, least(size(a), size(b))), $f), $fold))"

  /** An exact scale-16 decimal fold: a DECIMAL(38,16) accumulator would
    * widen past precision 38 on each add and drop to scale 15. */
  private val exactFold = "cast(0 as decimal(37,16)), (s, v) -> cast(s + v as decimal(37,16))"

  test("VectorDotExact: Column = SQL = the exact decimal zip_with sum") {
    check(Prop.forAll(vectors)(agree(_, VectorDotExact(col("a"), col("b")),
      "graft_vector_dot_exact(a, b)", Some("cast(" + pairFold(
        "(x, y) -> cast(cast(x as double) * cast(y as double) as decimal(32,16))",
        exactFold) + " as double)"))))
  }

  test("VectorDotRaw: Column = SQL = the left-to-right double fold") {
    check(Prop.forAll(vectors)(agree(_, VectorDotRaw(col("a"), col("b")),
      "graft_vector_dot_raw(a, b)", Some(pairFold(
        "(x, y) -> cast(x as double) * cast(y as double)", "cast(0 as double), (s, v) -> s + v")))))
  }

  test("VectorDotLong: Column = SQL = the bigint zip_with fold") {
    check(Prop.forAll(codes)(agree(_, VectorDotLong(col("a"), col("b")),
      "graft_vector_dot_long(a, b)",
      Some(pairFold("(x, y) -> x * y", "cast(0 as bigint), (s, v) -> s + v")))))
  }

  test("QuantizeInt8: Column = SQL = round(x / exact norm * 127), zeros at norm 0") {
    val norm = "sqrt(cast(aggregate(transform(a, x -> cast(cast(x as double) * cast(x as double) " +
      s"as decimal(32,16))), $exactFold) as double))"
    check(Prop.forAll(vectors)(agree(_, QuantizeInt8(col("a")), "graft_quantize_int8(a)", Some(
      s"if($norm = 0, transform(a, x -> 0L), " +
        s"transform(a, x -> cast(round(cast(x as double) / $norm * 127, 0) as bigint)))"))))
  }

  test("LshBucketsExact: Column = SQL") {
    check(Prop.forAll(vectors)(agree(_, LshBucketsExact(col("a"), 3, 5, 4),
      "graft_lsh_buckets_exact(a, 3, 5, 4)", None)))
  }

  test("SortedIntersectCount: Column = SQL = size(array_intersect) on duplicate-heavy sets") {
    check(Prop.forAll(sets)(agree(_, SortedIntersectCount(col("a"), col("b")),
      "graft_sorted_intersect_count(a, b)",
      Some("if(a is null or b is null, null, cast(size(array_intersect(a, b)) as bigint))"))))
  }

  test("Md5Hash32 and Md5NibbleMsbs: Column = SQL = the hex-digit md5 forms") {
    check(Prop.forAll(keys)(agree(_, Md5Hash32(col("k")), "graft_md5_hash32(k)",
      Some("cast(conv(substr(md5(k), 1, 8), 16, 10) as bigint)"))))
    check(Prop.forAll(keys)(agree(_, Md5NibbleMsbs(col("k")), "graft_md5_nibble_msbs(k)",
      Some("if(k is null, null, aggregate(sequence(0, 31), 0L, " +
        "(s, j) -> s + if(substr(md5(k), j + 1, 1) >= '8', shiftleft(1L, j), 0L)))"))))
  }

  test("a wrong-typed Column argument fails at analysis; a bad literal fails at build") {
    val df = Seq((1L, "x")).toDF("n", "k")
    for ((kernel, sql) <- Seq(
        SortedIntersectCount(col("n"), col("n")) -> "graft_sorted_intersect_count(n, n)",
        Md5Hash32(col("n")) -> "graft_md5_hash32(n)")) {
      val viaColumn = intercept[AnalysisException](df.select(kernel).collect())
      val viaSql = intercept[AnalysisException](df.selectExpr(sql).collect())
      assert(viaColumn.getCondition.startsWith("DATATYPE_MISMATCH"), viaColumn.getMessage)
      assert(viaColumn.getCondition == viaSql.getCondition, viaSql.getMessage)
    }
    val e = intercept[AnalysisException](LshBucketsExact(col("k"), 2, 64, 1))
    assert(e.getCondition == "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", e.getMessage)
  }
}
