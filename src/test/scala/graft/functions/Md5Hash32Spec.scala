package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class Md5Hash32Spec extends SparkSpec {
  import spark.implicits._

  test("Md5Hash32 equals the first-8-hex-digits-of-md5 Column formulation") {
    val keys = (Seq("", "a", "hello world", "0", "-17", "3:token",
      "élève unicode 中文") ++
      (0 until 200).map(i => s"key_$i")).toDF("k")
    // the pre-round-6 formulation hash32 replaced: per-digit hex parse
    val hex = md5(col("k").cast("string").cast("binary"))
    val legacy = (1 to 8).map { pos =>
      (instr(lit("0123456789abcdef"), substring(hex, pos, 1)) - 1).cast("long") *
        lit(1L << ((8 - pos) * 4))
    }.reduce(_ + _)
    val rows = keys
      .select(col("k"), Md5Hash32(col("k")).as("fast"), legacy.as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch for key '${r.getString(0)}'")
    }
    // range sanity: unsigned 32-bit
    rows.foreach(r => assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 32)))
  }

  test("Md5NibbleMsbs equals the 32 per-hex-digit substring probes") {
    val keys = (Seq("", "a", "the", "zebra", "中文 token") ++
      (0 until 200).map(i => s"term_$i")).toDF("k")
    val hex = md5(col("k").cast("binary"))
    // the pre-round-6 simhash probe for hex digit j
    val legacy = (0 until 32).map { j =>
      when(substring(hex, j + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
        lit(1L) * lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    keys.select(col("k"), Md5NibbleMsbs(col("k")).as("fast"), legacy.as("slow"))
      .collect()
      .foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"mismatch for key '${r.getString(0)}'"))
  }

  test("Md5Hash32 hashes non-string keys through their string form") {
    val viaLong = Seq(12345L).toDF("k")
      .select(graft.operators.Sketch.hash32(col("k"))).head().getLong(0)
    val viaString = Seq("12345").toDF("k")
      .select(graft.operators.Sketch.hash32(col("k"))).head().getLong(0)
    assert(viaLong == viaString)
  }
}
