package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.Similarity

class LshBucketsSpec extends SparkSpec {
  import spark.implicits._

  test("LshBucketsExact reproduces the literal-plane formulation exactly") {
    val l = 4
    val p = 6
    val dims = 64
    // deterministic pseudo-random embeddings (integer LCG, like the
    // plane weights themselves) — enough vectors to hit both signs of
    // every plane projection
    val rows = (0 until 32).map { i =>
      (i.toLong, Array.tabulate(dims) { d =>
        val idx = i.toLong * dims + d
        (((idx * 22695477L + 1L) % 1048576L).toFloat / 1048576.0f) - 0.5f
      })
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = df
      .select(col("vec_id"),
        LshBucketsExact(col("embedding"), l, p, dims).as("bs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // ground truth: the pre-round-6 shape — one VectorDotExact per
    // (table, plane) against Similarity.planeWeights literal arrays
    val ref = df.select(col("vec_id") +: (0 until l).map { t =>
        (0 until p).map { pp =>
          val w = array(Similarity.planeWeights(t, pp, p).map(lit): _*)
          when(VectorDotExact(col("embedding"), w) >= 0, lit(1L << pp))
            .otherwise(lit(0L))
        }.reduce(_ + _).as(s"b$t")
      }: _*)
      .collect()
      .map(r => r.getLong(0) -> (0 until l).map(t => r.getLong(1 + t)))
      .toMap
    assert(got == ref)
    // sanity: not all buckets equal (the projections really vary)
    assert(got.values.flatten.toSet.size > 1)
  }

  test("Similarity.buckets emits (t, bucket) per table via the kernel") {
    val df = Seq(
      (1L, Array.fill(64)(0.25f)),
      (2L, Array.fill(64)(-0.25f))).toDF("vec_id", "embedding")
    val out = Similarity.buckets(df, l = 2, p = 3).collect()
    assert(out.length == 4) // 2 vectors × 2 tables
    assert(out.map(_.getInt(1)).toSet == Set(0, 1))
  }
}
