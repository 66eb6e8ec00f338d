package graft.similarity

import graft.SparkSpec
import graft.sources.Tables

/** Similarity-search tests on the real sf0.001 embeddings, checked
  * against a driver-side brute-force reference computation. */
class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).cache()

  /** Driver-side reference: cosine of every vector vs the query. */
  private lazy val reference: Map[Long, Double] = {
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = vecs(0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    vecs.collect { case (id, v) if id != 0L => id -> cos(q, v) }
  }

  test("knnBrute matches a driver-side brute-force reference") {
    val expected = reference.toSeq.sortBy { case (id, c) => (-c, id) }.take(5)
    val got = Similarity.knnBrute(emb, queryId = 0L, k = 5).collect()
      .map(r => (r.getLong(0), r.getDecimal(1).doubleValue)) // cos is DECIMAL(18,6)
    assert(got.map(_._1).toSeq == expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-6, s"cosine mismatch: $g vs $e") }
  }

  test("mipsBrute matches a driver-side inner-product reference") {
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = vecs(0L)
    val dots = vecs.collect { case (id, v) if id != 0L =>
      id -> v.zip(q).map { case (x, y) => x * y }.sum }
    val expected = dots.toSeq.sortBy { case (id, d) => (-d, id) }.take(5)
    val got = Similarity.mipsBrute(emb, queryId = 0L, k = 5).collect()
      .map(r => (r.getLong(0), r.getDecimal(1).doubleValue))
    assert(got.map(_._1).toSeq == expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-4, s"inner product mismatch: $g vs $e") }
  }

  test("filteredKnn: label predicate restricts candidates, cosines exact") {
    val got = Similarity.filteredKnn(emb, queryId = 0L, labelEq = 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDecimal(2).doubleValue))
    assert(got.nonEmpty && got.forall(_._2 == 3))
    // pre-filtered top-k = the label-3 slice of the full reference ranking
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val expected = reference.toSeq.filter(p => labels(p._1) == 3)
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got.map(_._1).toSeq == expected)
  }

  test("pcaPower: L1-normalized direction matches a driver-side power iteration") {
    val vecs = emb.collect().map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    val n = vecs.length
    val dims = vecs.head.length
    val mu = Array.tabulate(dims)(d =>
      BigDecimal(vecs.map(_(d)).sum / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val cen = vecs.map(v => Array.tabulate(dims)(d => v(d) - mu(d)))
    val cov = Array.tabulate(dims, dims)((i, j) => cen.map(v => v(i) * v(j)).sum)
    var v = Array.fill(dims)(1.0 / dims)
    for (_ <- 1 to 3) {
      val w = Array.tabulate(dims)(i => (0 until dims).map(j => cov(i)(j) * v(j)).sum)
      val norm = w.map(math.abs).sum
      v = w.map(_ / norm)
    }
    val got = Similarity.pcaPower(emb).collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).doubleValue).toMap
    assert(got.size == dims)
    assert(math.abs(got.values.map(math.abs).sum - 1.0) < 1e-3) // L1-normalized
    (0 until dims).foreach { d =>
      assert(math.abs(got(d) - v(d)) < 1e-4, s"dim $d: ${got(d)} vs ${v(d)}")
    }
  }

  test("pcaPowerMatVec: distributed mat-vec path equals the collected-matrix path") {
    // the dims>>10^3 formulation (never materializes C) must agree with
    // pcaPower's collected 64x64 path at dims=64 — different summation
    // order, same converged direction (VERDICT r7 #7)
    val a = Similarity.pcaPower(emb).collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).doubleValue).toMap
    val b = Similarity.pcaPowerMatVec(emb).collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).doubleValue).toMap
    assert(a.keySet == b.keySet)
    a.keys.foreach { d =>
      assert(math.abs(a(d) - b(d)) <= 1e-5, s"dim $d: ${a(d)} vs ${b(d)}")
    }
  }

  test("pcaPower dispatch: dims ≤ threshold collects C, wider routes to mat-vec") {
    // collected path materializes the loadings as a LocalRelation (the
    // iterations ran driver-side on the dims^2 metadata matrix); the
    // mat-vec path per-iteration localCheckpoints, so its result scans
    // a checkpointed RDD (LogicalRDD leaf) — a wide-embedding corpus
    // must never reach the driver-side collect.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val small = Similarity.pcaPower(emb)
    assert(small.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]),
      "dims=64 should use the collected-matrix path (LocalRelation result)")
    val wide = Similarity.pcaPower(emb, dims = Similarity.PcaCollectMaxDims + 1)
    assert(wide.queryExecution.analyzed.collectLeaves()
      .exists(_.isInstanceOf[LogicalRDD]),
      "dims above the threshold must route to the distributed mat-vec plan")
    // the routed plan is still the same computation: on the 64-wide
    // corpus the extra v-dims have no matching rows, so the wide-dims
    // dispatch reproduces the collected result
    val a = small.collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue).toMap
    val b = wide.collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue).toMap
    assert(a.keySet == b.keySet)
    a.keys.foreach(d => assert(math.abs(a(d) - b(d)) <= 1e-5, s"dim $d"))
  }

  test("annTwoStageServeOnly: pure serving equals the registered served path") {
    // warm builds the index once; the serve-only path must then return
    // the exact same ranking as s19's served path (which also rewrites
    // the oracle facts) — the probe boundary measures cost, not a
    // different algorithm
    Similarity.warmTwoStageIndex(spark, sf("sf0.001"))
    val served = Similarity.annTwoStageServed(spark, sf("sf0.001"), queryId = 3L)
      .collect().map(_.toSeq).toSeq
    val serveOnly = Similarity.annTwoStageServeOnly(spark, sf("sf0.001"), queryId = 3L)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served == serveOnly)
  }

  test("annLsh recall: ANN top-5 overlaps brute-force top-5") {
    val brute = Similarity.knnBrute(emb, 0L, k = 5).collect().map(_.getLong(0)).toSet
    val ann = Similarity.annLsh(emb, 0L, k = 5).collect().map(_.getLong(0)).toSet
    assert((brute & ann).size >= 2, s"recall too low: brute=$brute ann=$ann")
  }

  test("nearDupPairs: sorted desc, cosines match reference, pairs canonical") {
    val pairs = Similarity.nearDupPairs(emb, topK = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue))
    assert(pairs.length == 5)
    val cos = pairs.map(_._3)
    assert(cos.sameElements(cos.sorted.reverse))
    pairs.foreach { case (a, b, _) => assert(a < b) }
    // spot-check the top pair's cosine against driver math
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val (a, b, c) = pairs.head
    val (va, vb) = (vecs(a), vecs(b))
    val expect = va.zip(vb).map { case (x, y) => x * y }.sum /
      (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    assert(math.abs(c - expect) < 1e-6)
  }

  test("knnBatch: each query's slice equals the single-query knnBrute") {
    val batch = Similarity.knnBatch(emb, queryIds = Seq(0L, 1L), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue))
    assert(batch.length == 10)
    Seq(0L, 1L).foreach { qid =>
      val slice = batch.filter(_._1 == qid).map(t => (t._2, t._3)).toSeq
      val single = Similarity.knnBrute(emb, queryId = qid, k = 5).collect()
        .map(r => (r.getLong(0), r.getDecimal(1).doubleValue)).toSeq
      assert(slice == single, s"batch slice for qid=$qid diverges from knnBrute")
    }
  }

  test("hardNegatives: only other-label vectors, best-first, never self") {
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val got = Similarity.hardNegatives(emb, queryIds = Seq(0L, 1L), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDecimal(3).doubleValue))
    Seq(0L, 1L).foreach { qid =>
      val mined = got.filter(_._1 == qid)
      assert(mined.length == 5)
      // every negative carries a different label than the query (and so
      // can never be the query row itself)
      mined.foreach { case (_, vid, lab, _) =>
        assert(lab == labels(vid) && lab != labels(qid), s"qid=$qid vid=$vid")
      }
      // cosines nonincreasing, and each equals the knnBrute score for
      // the same (query, candidate) pair
      val cos = mined.map(_._4)
      assert(cos.sameElements(cos.sorted.reverse))
      val brute = Similarity.knnBrute(emb, queryId = qid, k = 2000).collect()
        .map(r => r.getLong(0) -> r.getDecimal(1).doubleValue).toMap
      mined.foreach { case (_, vid, _, c) =>
        assert(math.abs(c - brute(vid)) < 1e-9, s"qid=$qid vid=$vid") }
      // and they are the TOP other-label candidates: every skipped
      // higher-cos vector must share the query's label
      val minCos = cos.min
      brute.foreach { case (vid, c) =>
        if (c > minCos + 1e-9 && !mined.exists(_._2 == vid))
          assert(labels(vid) == labels(qid), s"missed negative $vid")
      }
    }
  }

  test("ndcgAtK matches a driver-side reference ranking for query 0") {
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val got = Similarity.ndcgAtK(emb, queryIds = Seq(0L, 1L), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).doubleValue, r.getDecimal(4).doubleValue,
        r.getDecimal(5).doubleValue))
    assert(got.map(_._1).toSeq == Seq(0L, 1L))
    got.foreach { case (_, nTot, nAtK, dcg, idcg, ndcg) =>
      assert(nAtK <= math.min(10L, nTot))
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9)
      assert(dcg <= idcg + 1e-9)
    }
    // driver-side reference for qid 0: rank by (6-dp cos desc, vec_id)
    def gain(r: Int) = BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val ranked = reference.toSeq
      .map { case (id, c) => (id, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
      .sortBy { case (id, c) => (-c, id) }
    val rels = ranked.map { case (id, _) => labels(id) == labels(0L) }
    val dcg = rels.take(10).zipWithIndex
      .collect { case (true, i) => gain(i + 1) }.sum
    val nTot = rels.count(identity)
    val idcg = (1 to math.min(10, nTot)).map(gain).sum
    val expect = (dcg / idcg).toDouble
    assert(math.abs(got(0)._6 - expect) < 1e-5,
      s"ndcg ${got(0)._6} vs reference $expect")
    assert(got(0)._2 == nTot)
  }

  test("annInt8: quantized integer ranking recalls the exact cosine top-10") {
    val brute = Similarity.knnBrute(emb, 0L, k = 10).collect().map(_.getLong(0)).toSet
    val got = Similarity.annInt8(emb, 0L, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 10)
    val dots = got.map(_._2)
    assert(dots.sameElements(dots.sorted.reverse), "not sorted by qdot desc")
    // measured 9/10 at sf0.001 (one boundary swap from 8-bit rounding)
    val overlap = (got.map(_._1).toSet & brute).size
    assert(overlap >= 7, s"int8 recall too low: $overlap/10")
  }

  test("VectorDotExact equals the oracle's exact decimal SUM bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    graft.functions.VectorDotExact.register(spark)
    // reference: explode + decimal SUM aggregate — Spark's sum over
    // DECIMAL(32,16) keeps scale 16 exactly, matching the DuckDB oracles
    // (unlike a per-row fold, whose Add chain drops to scale 15)
    def assertExact(emb: org.apache.spark.sql.DataFrame): Unit = {
      val pairs = emb.as("a").crossJoin(emb.limit(3).select(
        col("vec_id").as("bid"), col("embedding").as("be")))
      val fast = pairs.select(col("a.vec_id"), col("bid"),
          graft.functions.VectorDotExact(col("a.embedding"), col("be")).as("dot"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val ref = pairs
        .select(col("a.vec_id"), col("bid"),
          posexplode(zip_with(col("a.embedding"), col("be"),
            (x, y) => (x.cast("double") * y.cast("double")).cast(DecimalType(32, 16)))))
        .groupBy("vec_id", "bid")
        .agg(sum(col("col")).cast("double").as("dot"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(fast.nonEmpty && fast.keySet == ref.keySet)
      fast.foreach { case (k, v) => assert(v == ref(k), s"$k: $v != ${ref(k)}") }
    }
    assertExact(emb)
    assertExact(emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")))
    // 0.02065591301277825 (also the double product of the floats
    // -0.16808848f and -0.12288714f) prints as an exact half unit at
    // scale 16 while its binary value lies just below it: HALF_UP on the
    // printed decimal (Spark's cast, and the kernel's BigDecimal
    // fallback) rounds up where rounding the binary value would round down
    import spark.implicits._
    val half = 0.02065591301277825
    assert(graft.functions.Exact16.units(half) == 206559130127783L)
    assertExact(Seq(
      (0L, Array(half, 0.25, -0.125)),
      (1L, Array(1.0, 1.0, 1.0)),
      (2L, Array(-0.16808848f.toDouble, half, 0.5)),
      (3L, Array(-0.12288714f.toDouble, 0.75, 3.0))).toDF("vec_id", "embedding"))
  }

  test("annIvf recall: probes the right clusters, overlaps brute-force top-5") {
    val brute = Similarity.knnBrute(emb, 0L, k = 5).collect().map(_.getLong(0)).toSet
    // these synthetic "clusters" are loose, so probe half the cells; the
    // point is the probe/re-rank mechanism, not the corpus clusterability
    val ivf = Similarity.annIvf(emb, 0L, k = 5, nprobe = 8).collect().map(_.getLong(0)).toSet
    assert((brute & ivf).size >= 3, s"IVF recall too low: brute=$brute ivf=$ivf")
    // full probe == brute force exactly (mechanism sanity)
    val full = Similarity.annIvf(emb, 0L, k = 5, nprobe = 16).collect().map(_.getLong(0)).toSet
    assert(full == brute, s"full-probe IVF must equal brute: brute=$brute full=$full")
  }

  test("embeddingClusters: threshold pairs form transitive clusters") {
    import spark.implicits._
    val scored = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.8), // chain 1-2-3 (1,3 never paired)
      (4L, 5L, 0.5),                // separate cluster
      (6L, 7L, 0.1),                // below threshold — not clustered
    ).toDF("va", "vb", "cos")
    val got = Similarity.embeddingClusters(scored, minCos = 0.3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L), s"got $got")
  }

  test("s5 over real embeddings: clusters only vectors from qualifying pairs") {
    import org.apache.spark.sql.functions._
    val scored = Similarity.scoredPairs(emb)
    val qualifying = scored.filter(col("cos") >= 0.3)
      .select(explode(array(col("va"), col("vb"))).as("v"))
      .collect().map(_.getLong(0)).toSet
    val clusters = Similarity.embeddingClusters(scored, minCos = 0.3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.keySet == qualifying)
    // every cluster label is the min member id
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl)
    }
  }

  test("centroidAssign: separable toy clusters classify perfectly") {
    import spark.implicits._
    val dims = 64
    // label 0 vectors live on axis 0, label 1 vectors on axis 1 — the
    // centroids are axis-aligned and every vector is nearer its own
    def vec(axis: Int, scale: Float) =
      Array.tabulate(dims)(d => if (d == axis) scale else 0.1f)
    val emb = Seq(
      (0L, vec(0, 5f), 0), (1L, vec(0, 6f), 0), (2L, vec(0, 7f), 0),
      (3L, vec(1, 5f), 1), (4L, vec(1, 6f), 1), (5L, vec(1, 7f), 1),
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidAssign(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(got.length == 6)
    got.foreach { case (id, label, pred, correct) =>
      assert(pred == label && correct == 1L, s"vec $id: pred=$pred label=$label")
    }
  }

  test("kmeans: separable toy clusters recovered despite mixed init") {
    import spark.implicits._
    val dims = 64
    def vec(axis: Int, scale: Float) =
      Array.tabulate(dims)(d => if (d == axis) scale else 0.1f)
    // init takes vec_ids 0..1 — one from each true cluster — so Lloyd
    // must move both centroids onto the axis clusters and assignment
    // must split exactly along them
    val emb = Seq(
      (0L, vec(0, 5f), 0), (2L, vec(0, 6f), 0), (4L, vec(0, 7f), 0),
      (1L, vec(1, 5f), 1), (3L, vec(1, 6f), 1), (5L, vec(1, 7f), 1),
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.kmeans(emb, k = 2, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // cluster 0 seeded from vec 0 (axis 0), cluster 1 from vec 1 (axis 1)
    assert(Set(0L, 2L, 4L).map(got) == Set(0L))
    assert(Set(1L, 3L, 5L).map(got) == Set(1L))
  }

  test("kmeans on real embeddings: ≤k non-empty clusters, all vectors assigned") {
    val rows = Similarity.kmeans(emb, k = 4, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == emb.count())
    val clusters = rows.map(_._2).distinct
    assert(clusters.nonEmpty && clusters.length <= 4 && clusters.forall(c => c >= 0 && c < 4))
  }

  test("silhouette: tight separated clusters score near 1, loose overlap scores lower") {
    import spark.implicits._
    val dims = 64
    def vec(axis: Int, scale: Float) =
      Array.tabulate(dims)(d => if (d == axis) scale else 0.1f)
    val tight = Seq(
      (0L, vec(0, 5.0f), 0), (2L, vec(0, 5.1f), 0), (4L, vec(0, 5.2f), 0),
      (1L, vec(1, 5.0f), 1), (3L, vec(1, 5.1f), 1), (5L, vec(1, 5.2f), 1),
    ).toDF("vec_id", "embedding", "label")
    val sTight = Similarity.silhouette(tight, k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getAs[java.math.BigDecimal]("mean_s").doubleValue).toMap
    assert(sTight.keySet == Set(0L, 1L))
    assert(sTight.values.forall(v => v > 0.9 && v <= 1.0), sTight.toString)
    // pull the two groups toward each other: separation (and s) must drop
    val loose = Seq(
      (0L, vec(0, 1.2f), 0), (2L, vec(0, 0.9f), 0), (4L, vec(1, 0.6f), 0),
      (1L, vec(1, 1.2f), 1), (3L, vec(1, 0.9f), 1), (5L, vec(0, 0.6f), 1),
    ).toDF("vec_id", "embedding", "label")
    val sLoose = Similarity.silhouette(loose, k = 2, iters = 2).collect()
      .map(r => r.getAs[java.math.BigDecimal]("mean_s").doubleValue)
    assert(sLoose.min < sTight.values.min, s"loose=$sLoose tight=$sTight")
  }

  test("silhouette: identical points collapse to one cluster, s = 0 by convention") {
    import spark.implicits._
    val same = Array.fill(64)(0.5f)
    val df = Seq((0L, same, 0), (1L, same, 0), (2L, same, 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouette(df, k = 2, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.math.BigDecimal]("mean_s").doubleValue))
    assert(got.map(_._2).sum == 3L, got.mkString(","))
    assert(got.forall(_._3 == 0.0), got.mkString(","))
  }

  test("silhouette on real embeddings: per-cluster means in [-1, 1], counts conserve") {
    val rows = Similarity.silhouette(emb, k = 4, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.math.BigDecimal]("mean_s").doubleValue))
    assert(rows.map(_._2).sum == emb.count())
    assert(rows.forall(t => t._3 >= -1.0 && t._3 <= 1.0), rows.mkString(","))
  }

  test("knnGraph: ≤k dense-ranked neighbors per vector, cos nonincreasing") {
    val scored = Similarity.scoredPairs(emb)
    val got = Similarity.knnGraphFromScored(scored, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).doubleValue, r.getLong(3)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (src, edges) =>
      val sorted = edges.sortBy(_._4)
      assert(sorted.length <= 3)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length)) // dense ranks
      sorted.map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a >= b, s"src $src cos not sorted")
        case _ =>
      }
      assert(!sorted.exists(_._2 == src), s"src $src self-edge")
    }
  }

  test("semanticDedup: one survivor per cluster, singletons all kept") {
    val clusters = Similarity.embeddingClusters(Similarity.scoredPairs(emb))
    val got = Similarity.semanticDedup(emb, clusters).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2)))
    assert(got.length == emb.count())
    // every non-singleton cluster keeps exactly its min member
    got.filter(_._2.isDefined).groupBy(_._2.get).foreach { case (c, members) =>
      assert(members.count(_._3 == 1L) == 1)
      assert(members.find(_._3 == 1L).get._1 == members.map(_._1).min)
      assert(members.map(_._1).min == c) // label IS the min member
    }
    got.filter(_._2.isEmpty).foreach(m => assert(m._3 == 1L))
  }

  test("centroidAssign on real embeddings beats chance accuracy") {
    val rows = Similarity.centroidAssign(emb).collect()
    val acc = rows.count(_.getLong(3) == 1L).toDouble / rows.length
    val nLabels = rows.map(_.getInt(1)).distinct.length
    assert(acc > 1.5 / nLabels, s"accuracy $acc vs chance ${1.0 / nLabels}")
  }

  test("autoP: 6 at every gate scale, grows log2 with the corpus") {
    // gate scales must keep the historical plane count (oracle hashes)
    assert(Similarity.autoP(200) == 6)   // sf0.01
    assert(Similarity.autoP(2000) == 6)  // sf0.1
    assert(Similarity.autoP(20000) == 10)  // the 10× probe corpus
    assert(Similarity.autoP(20000000) == 20)
    // monotone nondecreasing
    val ps = Seq(1L, 100L, 10000L, 1000000L).map(Similarity.autoP(_))
    assert(ps == ps.sorted)
  }

  test("annRecall equals the direct overlap of the s1 and s2 top-k sets") {
    val exact = Similarity.knnBrute(emb, queryId = 0L).collect().map(_.getLong(0)).toSet
    val approx = Similarity.annLsh(emb, queryId = 0L).collect().map(_.getLong(0)).toSet
    val row = Similarity.annRecall(emb, queryId = 0L).collect().head
    assert(row.getLong(0) == 10L)
    assert(row.getLong(1) == (exact & approx).size.toLong)
    assert(math.abs(row.getDecimal(2).doubleValue -
      (exact & approx).size.toDouble / 10) < 1e-9)
  }

  test("annPq: k rows, never self, ADC within LUT quantization of true dot") {
    val k = 10
    val got = Similarity.annPq(emb, queryId = 0L, k = k).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).doubleValue)
    assert(got.length == k)
    assert(!got.map(_._1).contains(0L))
    // adc strictly ordered desc with vec_id tiebreak
    val scores = got.map(_._2)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // ADC approximates the true dot product: each of the m=8 subspace
    // dots is replaced by the dot against that subspace's centroid. On
    // the real corpus the approximation must stay in the right range —
    // every returned score within the observed spread of true dots.
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = vecs(0L)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val trueDots = vecs.collect { case (id, v) if id != 0L => dot(q, v) }
    val (lo, hi) = (trueDots.min - 1.0, trueDots.max + 1.0)
    got.foreach { case (_, s) => assert(s > lo && s < hi, s"ADC $s out of range") }
  }

  test("annPq recall: compressed-domain top-10 overlaps exact dot top-10") {
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = vecs(0L)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val exact = vecs.collect { case (id, v) if id != 0L => id -> dot(q, v) }
      .toSeq.sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet
    val pq = Similarity.annPq(emb, queryId = 0L).collect().map(_.getLong(0)).toSet
    assert((exact & pq).size >= 3, s"PQ recall too low: exact=$exact pq=$pq")
  }

  test("annTwoStage: exact cosines on returned rows, recall over the pipeline") {
    val k = 10
    val got = Similarity.annTwoStage(emb, queryId = 0L, k = k).collect()
      .map(r => (r.getLong(0), r.getDecimal(1).doubleValue, r.getDecimal(2).doubleValue))
    assert(got.length == k)
    assert(!got.map(_._1).contains(0L))
    // the cos column is the EXACT cosine — it must match the driver-side
    // reference for every returned id (the re-rank stage touches raw
    // floats; ADC error must not leak into the final score)
    got.foreach { case (id, _, c) =>
      assert(math.abs(c - reference(id)) < 1e-6,
        s"re-ranked cosine for $id diverges from brute force: $c vs ${reference(id)}")
    }
    // ordered by exact cosine desc with vec_id tiebreak
    val cosSeq = got.map(_._3)
    assert(cosSeq.zip(cosSeq.tail).forall { case (a, b) => a >= b })
    // end-to-end recall vs brute-force cosine top-k: the IVF probe and
    // ADC shortlist each lose a little; the composition must still
    // surface a meaningful share of the true top-k
    val exact = reference.toSeq.sortBy { case (id, c) => (-c, id) }
      .take(k).map(_._1).toSet
    val overlap = (exact & got.map(_._1).toSet).size
    assert(overlap >= 3, s"two-stage recall too low: $overlap/$k")
  }

  test("mmrRerank replays the driver-side greedy MMR trajectory on real embeddings") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val (n, k, lam) = (20, 5, 0.7)
    val cands = reference.toSeq.map { case (id, c) => id -> r6(c) }
      .sortBy { case (id, c) => (-c, id) }.take(n)
    val relMap = cands.toMap
    var sel = Vector.empty[Long]
    val expected = (1 to k).map { _ =>
      val pick = cands.filterNot(c => sel.contains(c._1)).map { case (id, rel) =>
        val maxsim = if (sel.isEmpty) 0.0
          else sel.map(s => r6(cos(vecs(id), vecs(s)))).max
        (id, r6(lam * rel - (1.0 - lam) * maxsim))
      }.minBy { case (id, mmr) => (-mmr, id) }
      sel = sel :+ pick._1
      pick
    }
    val got = Similarity.mmrRerank(emb, queryId = 0L, n = n, k = k, lam = lam)
      .collect().map(r => (r.getLong(1), r.getDecimal(2).doubleValue)).toSeq
    assert(got.map(_._1) == expected.map(_._1),
      s"greedy trajectory diverged: ${got.map(_._1)} vs ${expected.map(_._1)}")
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-5, s"mmr score mismatch: $g vs $e") }
    // rank 1 is always the pure-relevance argmax
    assert(got.head._1 == cands.head._1)
  }

  test("mmrRerank diversifies: near-dup of the top pick defers to a diverse vector") {
    import spark.implicits._
    // id2 is the best match, id1 its near-duplicate (sim ≈ 0.9965),
    // id3 diverse (sim ≈ 0.43). Pure relevance orders 2,1,3; at λ=0.5
    // the dup penalty flips picks 2 and 3.
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.96f, 0.28f)),
      (2L, Array(0.98f, 0.199f)),
      (3L, Array(0.6f, -0.8f))).toDF("vec_id", "embedding")
    val diverse = Similarity.mmrRerank(tiny, queryId = 0L, n = 3, k = 3, lam = 0.5)
      .collect().map(_.getLong(1)).toSeq
    assert(diverse == Seq(2L, 3L, 1L), s"λ=0.5 should defer the near-dup: $diverse")
    // λ=1 degenerates to pure relevance order
    val rel = Similarity.mmrRerank(tiny, queryId = 0L, n = 3, k = 3, lam = 1.0)
      .collect().map(_.getLong(1)).toSeq
    assert(rel == Seq(2L, 1L, 3L), s"λ=1 must equal the relevance ranking: $rel")
  }

  test("sq8Recall: full recall on the real corpus, shape invariants hold") {
    val got = Similarity.sq8Recall(emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue))
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L))
    got.foreach { case (qid, n, rec) =>
      assert(n >= 0 && n <= 5 && rec == n / 5.0, s"recall/overlap mismatch at $qid")
      // 64-dim SQ8 noise is far below this corpus's cosine gaps
      assert(rec >= 0.8, s"suspiciously low SQ8 recall at $qid: $rec")
    }
  }

  test("sq8Recall negative control: code-collision ties are DETECTED as recall loss") {
    import spark.implicits._
    // candidates 1 and 2 quantize to IDENTICAL codes ([127, 1]: both
    // second components land in the same int8 bucket) but differ in
    // exact cosine: exact top-1 is vec 2 (smaller second comp), while
    // the quantized tie breaks to the smaller id (vec 1) — the gate
    // must report recall@1 = 0, proving it can see quantization damage
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0056f), 0),
      (2L, Array(1.0f, 0.0044f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.sq8Recall(tiny, queryIds = Seq(0L), k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue))
    assert(got.toSeq == Seq((0L, 0L, 0.0)), s"expected recall 0, got ${got.toSeq}")
  }

  test("mrlRecall: identity width gives full recall; curve rises with width") {
    val got = Similarity.mrlRecall(emb, dims = Seq(8, 32, 64), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(3).doubleValue))
    assert(got.length == 9)
    // truncation at the full width is the identity ranking — exact 1.0
    got.filter(_._1 == 64L).foreach { case (_, qid, rec) =>
      assert(rec == 1.0, s"d'=D must be full recall, qid $qid got $rec") }
    // aggregate monotonicity: more dims never hurt on average
    def mean(d: Long) = { val xs = got.filter(_._1 == d).map(_._3); xs.sum / xs.length }
    assert(mean(8L) <= mean(32L) && mean(32L) <= mean(64L),
      s"recall curve not rising: ${got.mkString(",")}")
  }

  test("mrlRecall negative control: a prefix-cosine tie flips the ranking detectably") {
    import spark.implicits._
    // full cosine prefers vec 2 (0.948 vs 0.53), but on the first dim
    // alone both normalize to exactly 1.0 — the tie breaks to the
    // smaller id (vec 1), so recall@1 at d'=1 must read 0 while d'=2
    // reads 1
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.5f, 0.8f), 0),
      (2L, Array(0.9f, -0.3f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.mrlRecall(tiny, queryIds = Seq(0L), dims = Seq(1, 2), k = 1)
      .collect().map(r => (r.getLong(0), r.getDecimal(3).doubleValue)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0), s"got $got")
  }

  test("sq8Recall: all-zero vectors quantize to zero codes and never outrank") {
    import spark.implicits._
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 0.0f), 0),   // zero vector: m = 0 guard path
      (2L, Array(0.9f, 0.1f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.sq8Recall(tiny, queryIds = Seq(0L), k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue))
    // both rankings put vec 2 first (zero vector scores 0 on both
    // sides), so the gate reads full recall — and no NaN/crash
    assert(got.toSeq == Seq((0L, 1L, 1.0)), s"got ${got.toSeq}")
  }
}
