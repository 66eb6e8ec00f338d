package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class Int8KernelsSpec extends SparkSpec {
  import spark.implicits._

  test("QuantizeInt8 matches the explicit norm+round formulation") {
    val df = Seq(
      (1L, Array(3.0f, 4.0f)),             // norm 5 → (76.2, 101.6) → (76, 102)
      (2L, Array(-1.0f, 1.0f)),            // ±127/√2 = ±89.80 → (-90, 90)
      (3L, Array(0.5f, -0.25f, 0.125f))).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"), QuantizeInt8(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(76L, 102L))
    assert(got(2L) == Seq(-90L, 90L))
    // reference: the unfused formulation over the same exact-decimal norm
    val refRows = df
      .select(col("vec_id"), col("embedding"),
        sqrt(VectorDotExact(col("embedding"), col("embedding"))).as("nrm"))
      .localCheckpoint(true) // stop CollapseProject re-inlining nrm
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          round(x.cast("double") / col("nrm") * 127.0, 0).cast("long")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == refRows)
  }

  test("QuantizeInt8: all-zero vector quantizes to the zero code vector") {
    // norm 0 → x/nrm is NaN; the kernel must emit zeros, not throw
    // (ADVICE r5: BigDecimal.valueOf(NaN) crashed the whole s8 query)
    val got = Seq((1L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(QuantizeInt8(col("embedding")).as("q"))
      .head().getSeq[Long](0)
    assert(got == Seq(0L, 0L, 0L))
  }

  test("VectorDotLong: plain integer multiply-accumulate") {
    val d = Seq((Array(1L, -2L, 3L), Array(4L, 5L, -6L)))
      .toDF("a", "b")
      .select(VectorDotLong(col("a"), col("b")))
      .head().getLong(0)
    assert(d == 4L - 10L - 18L)
  }

  test("int8 kernels participate in whole-stage codegen") {
    // range source (not a foldable local relation) so the projection
    // actually plans inside a WholeStageCodegen stage
    val df = spark.range(4)
      .select(array(col("id").cast("float"), lit(2.0f)).as("v"),
        array(col("id"), lit(3L)).as("q"))
      .select(VectorDotLong(QuantizeInt8(col("v")), col("q")).as("d"))
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("codegen id"), p.take(500))
  }
}
