package graft.similarity

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorDotExact
import graft.sources.Tables

/** s20 (incremental vector-assignment ingest) certification: literal-
  * fixture fate semantics of the serve-path core, the corpus-derived
  * cell count, persisted-state/read-back parity on real embeddings, and
  * the plan audit pinning the cid-partition-pruned index read
  * (VERDICT r10 task 1 / finding 1-2). */
class IncrementalAssignSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side twin of VectorDotExact.dot: per-product 16-dp decimal
    * quantization, then exact sum. */
  private def dotExact(a: Array[Double], b: Array[Double]): Double = {
    var acc = JBigDecimal.ZERO
    var i = 0
    while (i < math.min(a.length, b.length)) {
      acc = acc.add(JBigDecimal.valueOf(a(i) * b(i))
        .setScale(16, RoundingMode.HALF_UP))
      i += 1
    }
    acc.doubleValue()
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("assignDelta literal fixture: fates, asc(cid) tie-break, cell-bounded probe") {
    // two unit centroids; ALL corpus mass deliberately binned in cell 10,
    // so cell 0 is empty — a delta row assigned there must come out
    // admitted even when a cosine-identical corpus vector exists in the
    // OTHER cell (the cell-bounded contract: candidates are one cell's
    // population, never the corpus)
    val cents = Seq(
      (0L, Array(1.0, 0.0), 1.0),
      (10L, Array(0.0, 1.0), 1.0)).toDF("cid", "ce", "cnorm2")
    val index = Seq(
      (100L, 10L, Array(1.0f, 0.0f), 1.0),
      (101L, 10L, Array(0.0f, 1.0f), 1.0)).toDF("vec_id", "cid", "embedding", "norm2")
    val delta = Seq(
      (0L, Array(2.0f, 0.1f)),  // → cell 0 (dist² 1.01 vs 4.81); cos 0.9988
                                //   with corpus 100 — but 100 sits in cell
                                //   10, never probed → admitted
      (7L, Array(0.5f, 0.5f)),  // dist² 0.5 to BOTH centroids → asc(cid) → 0
      (9L, Array(0.1f, 2.0f)))  // → cell 10; cos 0.99875 with corpus 101 ≥
                                //   tau → near_dup_of_corpus
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        VectorDotExact(col("embedding"), col("embedding")).as("norm2"))
    val got = Similarity.assignDelta(cents, index, delta, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(
      (0L, 0L, "admitted"),
      (7L, 0L, "admitted"),
      (9L, 10L, "near_dup_of_corpus")))
  }

  test("autoCells: ⌈√n⌉ with floor 4, never above n") {
    assert(Similarity.autoCells(0) == 1)
    assert(Similarity.autoCells(3) == 3) // floor-4 clamped by n itself
    assert(Similarity.autoCells(400) == 20)   // the sf0.001/0.01 corpus
    assert(Similarity.autoCells(1600) == 40)  // the sf0.1 corpus
    assert(Similarity.autoCells(1000000) == 1000)
    // √n growth: 100× the corpus ⇒ 10× the cells ⇒ per-cell population
    // (the near-dup probe bound) grows 10×, not 100×
    assert(Similarity.autoCells(160000) == 10 * Similarity.autoCells(1600))
  }

  test("s20 on sf0.001: persisted read-back state is consistent and serves the fates") {
    val dir = sf("sf0.001")
    val result = Similarity.incrementalAssign(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val k = Similarity.autoCellsForDir(spark, dir)
    // derivation pinned against the data, not a literal corpus size —
    // the driver regenerates testdata between rounds
    val nCorpus = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 =!= 0).count()
    assert(k == Similarity.autoCells(nCorpus))
    val (cents, index) = Similarity.s20Index(spark, dir, k, iters = 2)

    // read-back shape: k centroids; the index holds exactly the corpus
    val cRows = cents.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    assert(cRows.length == k)
    val iRows = index.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getSeq[Float](2).map(_.toDouble).toArray, r.getDouble(3)))
    assert(iRows.length == nCorpus && iRows.forall(_._1 % 5 != 0))

    // every persisted index row sits in its nearest-centroid cell, per
    // the exact-decimal dist² identity with asc(cid) tie-break — the
    // read-back parity the scaladoc claims
    def nearest(v: Array[Double], n2: Double): Long =
      cRows.map { case (cid, ce, cn2) => (n2 - 2 * dotExact(v, ce) + cn2, cid) }
        .minBy(identity)._2
    iRows.foreach { case (vid, cid, v, n2) =>
      assert(cid == nearest(v, n2), s"index row $vid binned in $cid")
    }

    // the registered output's centroid and fate both reproduce from the
    // read-back state alone (serve path = persisted artifacts, nothing
    // session-resident)
    val byCell = iRows.groupBy(_._2)
    val deltaRows = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(result.length == deltaRows.size)
    result.foreach { case (vid, centroid, fate) =>
      val v = deltaRows(vid)
      val n2 = dotExact(v, v)
      assert(centroid == nearest(v, n2), s"delta $vid centroid")
      val near = byCell.getOrElse(centroid, Array.empty).exists {
        case (_, _, cv, cn2) =>
          round6(dotExact(v, cv) / (math.sqrt(n2) * math.sqrt(cn2))) >= 0.4
      }
      assert(fate == (if (near) "near_dup_of_corpus" else "admitted"),
        s"delta $vid fate")
    }
  }

  test("band-gated near-dup equals the all-exact path at and around the band edges") {
    // one unit centroid / one corpus vector on the x-axis: a delta
    // vector's cosine against the corpus is its x-component over its
    // norm, so fixture cosines land where we put them. tau = 0.5,
    // band = 0.1 → clear-accept ≥ 0.6, clear-reject ≤ 0.4, interior
    // pays the exact kernel.
    val cents = Seq((0L, Array(1.0, 0.0), 1.0)).toDF("cid", "ce", "cnorm2")
    val index = Seq((100L, 0L, Array(1.0f, 0.0f), 1.0))
      .toDF("vec_id", "cid", "embedding", "norm2")
    val delta = Seq(
      (0L, Array(0.65f, 0.7599342f)),  // clear accept (above band)
      (1L, Array(0.6f, 0.8f)),         // AT the accept edge
      (2L, Array(0.55f, 0.8351646f)),  // interior → exact accepts
      (3L, Array(0.5f, 0.8660254f)),   // exactly tau → exact accepts
      (4L, Array(0.45f, 0.8930286f)),  // interior → exact rejects
      (5L, Array(0.4f, 0.9165151f)),   // AT the reject edge
      (6L, Array(0.3f, 0.9539392f)))   // clear reject (below band)
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        VectorDotExact(col("embedding"), col("embedding")).as("norm2"))
    def fates(band: Double) =
      Similarity.assignDelta(cents, index, delta, tau = 0.5, band = band)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val banded = fates(0.1)
    assert(banded == fates(0.0), "band gate must never change a fate")
    assert(Seq(0L, 1L, 2L, 3L).forall(banded(_) == "near_dup_of_corpus"))
    assert(Seq(4L, 5L, 6L).forall(banded(_) == "admitted"))
  }

  test("s20 band parity on real embeddings: default band == all-exact") {
    val dir = sf("sf0.001")
    val k = Similarity.autoCellsForDir(spark, dir)
    val (cents, index) = Similarity.s20Index(spark, dir, k, iters = 2)
    val delta = Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"),
        VectorDotExact(col("embedding"), col("embedding")).as("norm2"))
    val banded = Similarity.assignDelta(cents, index, delta, tau = 0.4)
      .collect().map(_.toSeq).toSeq
    val exact = Similarity.assignDelta(cents, index, delta, tau = 0.4, band = 0.0)
      .collect().map(_.toSeq).toSeq
    assert(banded == exact)
  }

  test("s21 cell occupancy: sums to the corpus, matches the index, reads no data pages") {
    val dir = sf("sf0.001")
    val occ = Similarity.cellOccupancy(spark, dir)
    val rows = occ.collect().map(r => (r.getLong(0), r.getLong(1)))
    // every corpus vector in exactly one cell (size derived, not literal)
    assert(rows.map(_._2).sum ==
      Tables.embeddings(spark, dir).filter(col("vec_id") % 5 =!= 0).count())
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq) // ordered by cid
    // agrees with a direct count over the read-back index
    val k = Similarity.autoCellsForDir(spark, dir)
    val (_, index) = Similarity.s20Index(spark, dir, k, iters = 2)
    val direct = index.collect().groupBy(_.getLong(1)).view.mapValues(_.length.toLong)
    assert(rows.toMap == direct.toMap)
    // plan audit: cid is the partition column, so the aggregate's scan
    // must read ZERO data columns (metadata-proportional, the scaladoc
    // claim)
    val plan = occ.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<>"), s"scan reads data pages:\n$plan")
  }

  test("s22 ingest merge: corpus keeps cells (gen 0), only admitted delta enters (gen 1)") {
    val dir = sf("sf0.001")
    val merged = Similarity.ingestMerge(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val k = Similarity.autoCellsForDir(spark, dir)
    val (_, index) = Similarity.s20Index(spark, dir, k, iters = 2)
    val corpusCells = index.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fates = Similarity.incrementalAssign(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val admitted = fates.collect { case (v, c, "admitted") => v -> c }.toMap
    val nearDups = fates.collect { case (v, _, "near_dup_of_corpus") => v }.toSet
    assert(merged.collect { case (v, c, 0L) => v -> c }.toMap == corpusCells)
    assert(merged.collect { case (v, c, 1L) => v -> c }.toMap == admitted)
    assert(merged.forall { case (v, _, _) => !nearDups.contains(v) })
    assert(merged.map(_._1).toSeq == merged.map(_._1).sorted.toSeq)
    assert(merged.length == corpusCells.size + admitted.size)
  }

  test("s20 index read partition-prunes on cid") {
    val dir = sf("sf0.001")
    val k = Similarity.autoCellsForDir(spark, dir)
    val (cents, index) = Similarity.s20Index(spark, dir, k, iters = 2)
    val someCid = cents.select("cid").orderBy("cid").head().getLong(0)
    val plan = index.filter(col("cid") === someCid)
      .queryExecution.executedPlan.toString
    // the filter on the (cast-restated) partition column must reach the
    // scan as a PartitionFilter — a per-cell probe reads one cell's
    // files, not the index (the scaladoc's partition-prune claim)
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan)
      .map(_.group(1)).getOrElse(fail(s"no PartitionFilters in plan:\n$plan"))
    assert(pf.contains("cid") && pf.trim.nonEmpty, s"cid not pruned: $pf\n$plan")
  }
}
