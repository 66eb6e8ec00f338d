package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-17 sorted-merge intersection kernel: must agree with
  * size(array_intersect) — set semantics — for every sorted input,
  * including duplicates, empties, and disjoint/nested sets. */
class SortedIntersectCountSpec extends SparkSpec {

  test("counts match size(array_intersect) on sorted arrays") {
    import spark.implicits._
    val rows = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),          // overlap
      (Seq(1L, 2L), Seq(3L, 4L)),                  // disjoint
      (Seq.empty[Long], Seq(1L, 2L)),              // empty left
      (Seq(1L, 2L, 3L), Seq.empty[Long]),          // empty right
      (Seq(1L, 1L, 2L, 2L), Seq(1L, 2L, 2L, 5L)),  // duplicates: set semantics
      (Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L)),        // identical incl. negatives
      (Seq(1L, 9L), Seq(0L, 1L, 2L, 9L, 10L)),     // nested
    ).toDF("a", "b")
    val got = rows.select(
      SortedIntersectCount(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("kernel agrees with array_intersect over the real shingle build") {
    import spark.implicits._
    // sorted 64-bit hash sets the way dedupShared builds them
    val docs = Seq((1L, "a b c d e f"), (2L, "c d e f g h"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
    val sets = docs.select(col("doc_id"),
      sort_array(transform(graft.dedup.Dedup.shingles(col("text")),
        s => xxhash64(s))).as("shh"))
    val pairs = sets.as("a").join(sets.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(
        SortedIntersectCount(col("a.shh"), col("b.shh")).as("k"),
        size(array_intersect(col("a.shh"), col("b.shh"))).cast("long").as("ref"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }
}
