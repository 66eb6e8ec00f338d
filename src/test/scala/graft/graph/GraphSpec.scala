package graft.graph

import graft.SparkSpec

/** Golden graph tests (SURVEY.md §5.3): K4 triangles, 4-node PageRank,
  * two-component CC — hand-checkable results. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toDF("src", "dst")

  test("degrees: out/in with one-sided vertices kept") {
    val d = Graph.degrees(edges(1L -> 2L, 1L -> 3L, 2L -> 3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(d.toSeq == Seq((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L)))
  }

  test("triangleCounts: K4 has 4 triangles, 3 per vertex") {
    // K4 edges in arbitrary direction/order
    val e = edges(1L -> 2L, 3L -> 1L, 1L -> 4L, 2L -> 3L, 4L -> 2L, 3L -> 4L)
    val t = Graph.triangleCounts(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(t.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("connectedComponents: two components get min-id labels") {
    val e = edges(5L -> 2L, 2L -> 9L, 7L -> 8L)
    val c = Graph.connectedComponents(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(c.toSeq == Seq((2L, 2L), (5L, 2L), (7L, 7L), (8L, 7L), (9L, 2L)))
  }

  test("connectedComponents: edge-mass scaled parallelism is per-plan, never session conf") {
    val e = edges(5L -> 2L, 2L -> 9L, 7L -> 8L)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // edgeRowsPerTask = 1 forces scaled = |edges| + 1 > any test setting,
    // exercising the 100×-probe scaled-join path on a unit graph. Round 13
    // moved the scaling from a session-conf set/restore (raceable across
    // overlapping calls, visible to concurrent queries) to explicit
    // repartition(scaled, key) on the per-round join inputs, so the
    // session setting must now be bit-identical THROUGHOUT the call, not
    // merely restored after it — verified by never touching it.
    val c = Graph.connectedComponents(e, edgeRowsPerTask = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(c.toSeq == Seq((2L, 2L), (5L, 2L), (7L, 7L), (8L, 7L), (9L, 2L)),
      "labels must be partition-count-invariant")
    assert(spark.conf.get(key) == before,
      "scaled parallelism must not mutate session conf")
  }

  test("graph entry points evaluate the caller's edge frame exactly once") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, udf}
    // The r12 d24 probe found caller-pipeline re-evaluation costing 76 s
    // per extra reference; every public algorithm now checkpoints the
    // caller frame once at entry. Pin it: an accumulator ticked per edge
    // ROW evaluated must land at exactly |E| after a full run.
    val algos: Seq[(String, DataFrame => Unit)] = Seq(
      ("pageRank", e => Graph.pageRank(e, iterations = 2).collect()),
      ("pageRankDangling", e => Graph.pageRankDangling(e, iterations = 2).collect()),
      ("pageRankTol", e => Graph.pageRankTol(e, tol = 0.5).collect()),
      ("personalizedPageRank",
        e => Graph.personalizedPageRank(e, sources = Seq(1L), iterations = 2).collect()),
      ("triangleCounts", e => Graph.triangleCounts(e).collect()),
      ("shortestPaths", e => Graph.shortestPaths(e, landmarks = Seq(1L)).collect()),
      ("labelPropagation", e => Graph.labelPropagation(e, rounds = 2).collect()),
      ("connectedComponents", e => Graph.connectedComponents(e).collect()),
      ("adamicAdar", e => Graph.adamicAdar(e).collect()),
      ("kCore", e => Graph.kCore(e, k = 2).collect()),
      ("hits", e => Graph.hits(e, iterations = 2).collect()),
      ("stronglyConnectedComponents",
        e => Graph.stronglyConnectedComponents(e).collect()),
      ("weightedSssp",
        e => Graph.weightedSssp(Graph.weightedEdges(e), landmarks = Seq(1L)).collect()),
      ("betweenness", e => Graph.betweenness(e, pivots = Seq(1L)).collect()),
      ("randomWalks", e => Graph.randomWalks(e, steps = 2).collect()),
      ("louvain", e => Graph.louvain(e, rounds = 2).collect()))
    for ((name, run) <- algos) {
      val acc = spark.sparkContext.longAccumulator(s"edge_evals_$name")
      val tick = udf { (x: Long) => acc.add(1L); x }.asNondeterministic()
      val instrumented = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
        .select(tick(col("src")).as("src"), col("dst"))
      run(instrumented)
      assert(acc.value == 4L,
        s"$name evaluated the caller frame ${acc.value / 4.0} times (want 1)")
    }
  }

  test("label-frame consumers evaluate the caller's label frame exactly once") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, udf}
    // modularity and condensationLevels take a LABELING frame (usually a
    // full CC/SCC pipeline) and reference it 2-3 times — same
    // single-evaluation contract, pinned on the label side
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val cases: Seq[(String, DataFrame => Unit)] = Seq(
      ("modularity", lab => Graph.modularity(e,
        lab.select(col("id"), col("lbl").as("component"))).collect()),
      ("condensationLevels", lab => Graph.condensationLevels(e,
        lab.select(col("id"), col("lbl").as("scc"))).collect()))
    for ((name, run) <- cases) {
      val acc = spark.sparkContext.longAccumulator(s"label_evals_$name")
      val tick = udf { (x: Long) => acc.add(1L); x }.asNondeterministic()
      val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("id", "lbl")
        .select(tick(col("id")).as("id"), col("lbl"))
      run(labels)
      assert(acc.value == 4L,
        s"$name evaluated the caller's label frame ${acc.value / 4.0} times (want 1)")
    }
  }

  test("pageRank: ranks sum to ~1 on a cycle (no dangling loss)") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val r = Graph.pageRank(e, iterations = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(r.length == 3)
    // symmetric cycle → uniform ranks = 1/3 each
    r.foreach { case (_, rank) => assert(math.abs(rank - 1.0 / 3) < 1e-9) }
  }

  test("pageRankTol: cycle converges to uniform rank 1.0 (GraphX convention)") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val r = Graph.pageRankTol(e, tol = 1e-6).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(r.length == 3)
    // the cycle STARTS at the fixpoint (every contrib = 1.0), so the loop
    // detects convergence on its first delta check
    assert(Graph.tolIterations.last >= 1)
    // symmetric cycle, sum-to-N convention → fixpoint rank = 1.0 each
    r.foreach { case (_, rank) => assert(math.abs(rank - 1.0) < 1e-4) }
  }

  test("pageRankTol: vertex with no in-links settles at alpha") {
    val e = edges(1L -> 2L, 2L -> 1L, 1L -> 3L, 3L -> 1L, 4L -> 1L)
    val r = Graph.pageRankTol(e, tol = 1e-8).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(r(4L) - 0.15) < 1e-6)
  }

  test("communitySizes: top components by size with tie-break on id") {
    // components {1,2,3} (size 3), {10,11} (size 2), {20,21} (size 2)
    val e = edges(1L -> 2L, 2L -> 3L, 10L -> 11L, 20L -> 21L)
    val c = Graph.communitySizes(e, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(c.toSeq == Seq((1L, 3L), (10L, 2L)))
  }

  test("shortestPaths: directed landmark BFS — chain, shortcut, unreachable") {
    // 1→2→3 chain plus a 1→3 shortcut; 4→5 disconnected; nothing reaches 1
    val e = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L)
    val d = Graph.shortestPaths(e, landmarks = Seq(1L, 3L, 5L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d == Set(
      (1L, 1L, 0L),                                 // only 1 reaches 1
      (3L, 3L, 0L), (2L, 3L, 1L), (1L, 3L, 1L),     // shortcut beats the chain
      (5L, 5L, 0L), (4L, 5L, 1L)))                  // other component
  }

  test("pageRank refQuirks: dangling-sink variant drops no-in-link vertices") {
    val e = edges(1L -> 2L, 2L -> 3L)
    // drop cascades per iteration (ref PageRank.scala:63 inner join):
    // iter 1 keeps {2,3} (have in-links); iter 2 keeps {3} (only live src)
    val r1 = Graph.pageRank(e, iterations = 1, refQuirks = true).collect()
    assert(r1.map(_.getLong(0)).toSet == Set(2L, 3L))
    val r2 = Graph.pageRank(e, iterations = 2, refQuirks = true).collect()
    assert(r2.map(_.getLong(0)).toSet == Set(3L))
  }

  test("labelPropagation: disjoint triangles converge to min-id labels") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 7L -> 8L, 8L -> 9L, 9L -> 7L)
    val got = Graph.labelPropagation(e, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // K3 round-by-round with min-tie-break: round 1 → (2,1,1), round 2 →
    // (1,1,1), stable at the min id thereafter; same shifted for {7,8,9}
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (7L, 7L), (8L, 7L), (9L, 7L)))
  }

  test("kCore: pendant chain peels away over multiple rounds, K4 survives") {
    // K4 {1,2,3,4} + chain 1-5-6: at k=2, vertex 6 (deg 1) peels in
    // round 1, exposing 5 (deg drops 2→1) which peels in round 2 — the
    // cascade the fixpoint loop exists for
    val e = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 1L -> 5L, 5L -> 6L)
    val got = Graph.kCore(e, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("personalizedPageRank: mass stays near the source, unreachable stays 0") {
    // chain 1→2→3 plus isolated pair 8→9; personalize on {1}
    val e = edges(1L -> 2L, 2L -> 3L, 8L -> 9L)
    val r = Graph.personalizedPageRank(e, sources = Seq(1L), iterations = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // source keeps the full teleport share; downstream decays by 0.85/hop
    assert(math.abs(r(1L) - 0.15) < 1e-12)
    assert(math.abs(r(2L) - 0.15 * 0.85) < 1e-9) // one hop from the source
    assert(r(2L) > r(3L) && r(3L) > 0.0)
    // vertices unreachable from the source set get NO rank at all
    assert(r(8L) == 0.0 && r(9L) == 0.0)
  }

  test("clusteringCoeff: K4 vertices are fully clustered, a pendant is 0") {
    // K4 {1,2,3,4} + pendant 5 off vertex 1: each K4 vertex not touching
    // the pendant has coeff 1; vertex 1 has 4 neighbors but still only 3
    // triangles → 2·3/(4·3) = 0.5; the pendant (1 neighbor) is 0
    val e = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 1L -> 5L)
    val got = Graph.clusteringCoeff(e, Graph.triangleCounts(e)).collect()
      .map(r => (r.getLong(0), r.getAs[java.math.BigDecimal]("coeff").doubleValue))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0.5), (2L, 1.0), (3L, 1.0), (4L, 1.0), (5L, 0.0)))
  }

  test("kCore: k above max degree yields the empty core") {
    val e = edges(1L -> 2L, 2L -> 3L)
    assert(Graph.kCore(e, k = 5).count() == 0L)
  }

  test("kTruss (g25_ktruss): K4 survives k=4 with support 2; pendant triangle peels") {
    // K4 {1,2,3,4}: every edge sits in exactly 2 triangles → 4-truss.
    // Pendant triangle {1,5,6}: its edges have support 1 → peel at k=4,
    // and their removal must NOT disturb K4's supports.
    val e = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      1L -> 5L, 5L -> 6L, 6L -> 1L)
    val got = Graph.kTruss(e, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)), got.mkString(","))
  }

  test("kTruss: shared-edge triangle chain cascades to empty at k=4") {
    // triangles (1,2,3), (2,3,4), (3,4,5): only (2,3) and (3,4) reach
    // support 2; peeling the support-1 edges destroys every triangle,
    // so the survivors cascade to support 0 and peel next round — the
    // multi-round fixpoint the loop exists for
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      3L -> 5L, 4L -> 5L)
    assert(Graph.kTruss(e, k = 4).count() == 0L)
    // while k=3 (support ≥ 1) keeps exactly the 7 triangle edges
    val k3 = Graph.kTruss(e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(k3.length == 7 && k3.forall(_._3 >= 1), k3.mkString(","))
  }

  test("weightedSssp (g26_weighted_sssp): weighted route beats the fewer-hop route") {
    // direct edge 1→9 costs 10; the 3-hop detour 1→2→3→9 costs 3. Hop
    // BFS (g7) would answer 1; the weighted relaxation must answer 3 —
    // and needs multiple improvement waves to get there (the direct
    // edge wins wave 1, the detour overtakes it later).
    val e = Seq((1L, 9L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 9L, 1L))
      .toDF("src", "dst", "w")
    val got = Graph.weightedSssp(e, landmarks = Seq(9L), recordKey = Some("spec_g26"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 9L, 3L), (2L, 9L, 2L), (3L, 9L, 1L), (9L, 9L, 0L)),
      got.mkString(","))
    // the direct-edge value 10 must have been overwritten in a LATER
    // wave — at least 2 improving waves recorded
    assert(Graph.wssspRounds("spec_g26") >= 2)
  }

  test("weightedSssp: unreachable pairs absent; multiple landmarks independent") {
    val e = Seq((1L, 2L, 5L), (2L, 3L, 5L), (4L, 5L, 1L)).toDF("src", "dst", "w")
    val got = Graph.weightedSssp(e, landmarks = Seq(3L, 5L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 3L, 10L), (2L, 3L, 5L), (3L, 3L, 0L),
      (4L, 5L, 1L), (5L, 5L, 0L)), got.mkString(","))
  }

  test("betweenness (g27_betweenness): path and diamond match hand Brandes") {
    // path 1→2→3 from pivot 1: δ(2) = 1·(1+0)/1 = 1, endpoints 0
    val path = edges(1L -> 2L, 2L -> 3L)
    val gotP = Graph.betweenness(path, pivots = Seq(1L))
      .collect().map(r => (r.getLong(0), r.getDecimal(1).doubleValue)).toMap
    assert(gotP == Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0), gotP.mkString(","))
    // diamond 1→{2,3}→4: σ(4)=2, δ(2)=δ(3)=1·(1+0)/2 = 0.5
    val diamond = edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L)
    val gotD = Graph.betweenness(diamond, pivots = Seq(1L))
      .collect().map(r => (r.getLong(0), r.getDecimal(1).doubleValue)).toMap
    assert(gotD == Map(1L -> 0.0, 2L -> 0.5, 3L -> 0.5, 4L -> 0.0), gotD.mkString(","))
  }

  test("betweenness: multi-pivot sums dependencies; pivot rows excluded") {
    // chain 1→2→3→4. Pivot 1: δ(3)=1, δ(2)=1·(1+1)=2. Pivot 2: δ(3)=1.
    // bc: v2 = 2 (pivot 1 only), v3 = 1+1 = 2, endpoints 0.
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val got = Graph.betweenness(e, pivots = Seq(1L, 2L))
      .collect().map(r => (r.getLong(0), r.getDecimal(1).doubleValue)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0), got.mkString(","))
  }

  test("louvain (g29_louvain): two bridged triangles coalesce into two communities") {
    // hand-traced through all 4 parity-alternating rounds: triangle
    // {1,2,3} settles on community 2 (v1 moves first, v3 follows the
    // tie-break to c2's larger mass), triangle {4,5,6} on community 6;
    // the bridge 3-4 never pays (negative gain against the full
    // opposite-triangle degree sum)
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 5L, 4L -> 6L, 5L -> 6L, 3L -> 4L)
    val got = Graph.louvain(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 6L, 5L -> 6L, 6L -> 6L),
      got.mkString(","))
  }

  test("louvain: parity alternation prevents the tight-pair oscillation") {
    // a single edge under FULLY synchronous greedy moves swaps labels
    // forever (both endpoints adopt each other); parity-gated rounds
    // must settle it into one shared community
    val e = edges(1L -> 2L)
    val got = Graph.louvain(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.values.toSet.size == 1, s"pair must share one community: $got")
  }

  test("randomWalks (g28_random_walks): forced chain walks; early stop at sinks") {
    // chain 1→2→3: out-degree 1 everywhere, so every draw is forced —
    // the walk structure is fully hand-checkable and hash-independent
    val e = edges(1L -> 2L, 2L -> 3L)
    val got = Graph.randomWalks(e, steps = 6).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 0, 1L), (1L, 1, 2L), (1L, 2, 3L),
      (2L, 0, 2L), (2L, 1, 3L), (3L, 0, 3L)), got.mkString(","))
  }

  test("randomWalks: branching draw matches the md5 formula and is reproducible") {
    // vertex 1 → {2, 3}: step 1 of walk 1 must take neighbor index
    // md5_32("1:1") mod 2 under the (dst asc) ranking — recompute the
    // digest here and check the engine took exactly that branch
    val e = edges(1L -> 2L, 1L -> 3L)
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val want = Seq(2L, 3L)((h32("1:1") % 2).toInt)
    val runA = Graph.randomWalks(e, steps = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(runA.contains((1L, 1, want)), s"walk 1 must step to $want: ${runA.mkString(",")}")
    val runB = Graph.randomWalks(e, steps = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(runA.toSeq == runB.toSeq, "walks must be run-to-run reproducible")
  }

  test("covisitation: canonical pairs, counts bounded by co-visiting users") {
    val got = Graph.covisitation(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.length <= 20)
    // canonical edges, counts sorted nonincreasing with full tie order
    got.foreach { case (a, b, n) => assert(a < b && n >= 1) }
    assert(got.sameElements(got.sortBy(t => (-t._3, t._1, t._2))))
    // spot-check the top pair against a direct recount (cap can only
    // LOWER a pair's count, never raise it)
    val (a, b, n) = got.head
    val ev = graft.sources.Tables.events(spark, sf("sf0.001"))
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.get_json_object(
          org.apache.spark.sql.functions.col("props"), "$.k").cast("long").as("item"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = ev.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val direct = byUser.count { case (_, items) => items(a) && items(b) }
    assert(n <= direct, s"pair ($a,$b) counted $n > direct $direct")
  }

  test("itemJaccard: similarity consistent with pair and item counts") {
    val got = Graph.itemJaccard(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).doubleValue))
    assert(got.nonEmpty && got.length <= 20)
    got.foreach { case (a, b, n, j) =>
      assert(a < b && n >= 1 && j > 0.0 && j <= 1.0, s"($a,$b)")
    }
    assert(got.sameElements(got.sortBy(t => (-t._4, t._1, t._2))))
    // cross-check the top pair against the capped sets computed directly
    val kept = Graph.covisitKeptFrom(
        graft.sources.Tables.events(spark, sf("sf0.001")), cap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byItem = kept.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    val (a, b, n, j) = got.head
    val (ua, ub) = (byItem(a), byItem(b))
    assert(n == (ua & ub).size)
    assert(math.abs(j - n.toDouble / (ua.size + ub.size - n)) < 1e-6)
  }

  test("labelPropagation: edge direction is ignored (symmetrized)") {
    val fwd = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val rev = edges(2L -> 1L, 3L -> 2L, 1L -> 3L)
    val a = Graph.labelPropagation(fwd).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = Graph.labelPropagation(rev).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("hits: two hubs pointing at one authority") {
    // 1→3, 2→3: vertex 3 is the pure authority, 1 and 2 split hub mass
    val h = Graph.hits(edges(1L -> 3L, 2L -> 3L)).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(h(3L)._1 - 1.0) < 1e-9) // auth(3) = 1 (all of it)
    assert(math.abs(h(3L)._2 - 0.0) < 1e-9) // no out-edges → hub 0
    assert(math.abs(h(1L)._2 - 0.5) < 1e-9 && math.abs(h(2L)._2 - 0.5) < 1e-9)
    assert(math.abs(h(1L)._1 - 0.0) < 1e-9) // no in-edges → auth 0
  }

  test("hits: L1 normalization — auth and hub each sum to 1") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 4L -> 2L)
    val rows = Graph.hits(e).collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(math.abs(rows.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)
  }

  test("assortativity matches a driver-side Pearson over edge degree pairs") {
    val es = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 3L, 3L -> 5L)
    val outD = es.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val inD = es.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val (xs, ys) = es.map { case (s, d) => (outD(s), inD(d)) }.unzip
    val n = xs.size
    val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum - xs.sum * ys.sum
    val den = (n * xs.map(a => a * a).sum - xs.sum * xs.sum) *
      (n * ys.map(a => a * a).sum - ys.sum * ys.sum)
    val expected = num / math.sqrt(den)
    val row = Graph.assortativity(edges(es: _*)).collect().head
    assert(row.getLong(0) == n.toLong)
    assert(math.abs(row.getDecimal(1).doubleValue - expected) < 1e-6)
  }

  test("assortativity: degree-regular edge set has zero-variance guard r = 0") {
    // star: every edge pairs out-degree 3 with in-degree 1 — no variance
    val row = Graph.assortativity(edges(1L -> 2L, 1L -> 3L, 1L -> 4L)).collect().head
    assert(row.getDecimal(1).doubleValue == 0.0)
  }

  test("reciprocity: counts mutual edges exactly") {
    // 1↔2 mutual (2 reciprocal edges), 1→3 and 3→2 one-way: 2/4
    val row = Graph.reciprocity(
      edges(1L -> 2L, 2L -> 1L, 1L -> 3L, 3L -> 2L)).collect().head
    assert(row.getLong(0) == 4L)
    assert(row.getLong(1) == 2L)
    assert(math.abs(row.getDecimal(2).doubleValue - 0.5) < 1e-9)
  }

  test("reciprocity: fully one-way graph scores zero, fully mutual scores one") {
    val oneWay = Graph.reciprocity(edges(1L -> 2L, 2L -> 3L)).collect().head
    assert(oneWay.getLong(1) == 0L && oneWay.getDecimal(2).doubleValue == 0.0)
    val mutual = Graph.reciprocity(edges(1L -> 2L, 2L -> 1L)).collect().head
    assert(mutual.getLong(1) == 2L && mutual.getDecimal(2).doubleValue == 1.0)
  }

  test("adamicAdar: path endpoints score 1/ln(2) via the middle vertex") {
    val r = Graph.adamicAdar(edges(1L -> 2L, 2L -> 3L)).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDecimal(2).doubleValue))
    // only non-adjacent pair is (1,3); common neighbor 2 has degree 2
    assert(r.toSeq == Seq((1L, 3L, 1.442695))) // round(1/ln 2, 6)
  }

  test("adamicAdar: square doubles the score, adjacent pairs excluded") {
    val sq = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    val r = Graph.adamicAdar(sq).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDecimal(2).doubleValue))
    // diagonals (1,3) and (2,4) each reached via TWO degree-2 neighbors
    assert(r.toSeq.sortBy(p => (p._1, p._2)) ==
      Seq((1L, 3L, 2.88539), (2L, 4L, 2.88539)))
  }

  test("degreePowerlaw: exact slope on a constructed two-point histogram") {
    // degree histogram with exactly two points: 8 nodes of degree 1
    // (leaves), 2 nodes of degree 4 (two disjoint 4-stars) →
    // slope = (ln 2 − ln 8) / (ln 4 − ln 1) = −1
    val e = edges(
      (1L to 4L).map(i => 100L -> i) ++ (5L to 8L).map(i => 200L -> i): _*)
    val r = Graph.degreePowerlaw(e).collect().head
    assert(r.getLong(0) == 2L)
    assert(math.abs(r.getDecimal(1).doubleValue - (-1.0)) < 1e-3)
  }

  test("distanceHistogram: cum telescopes to the path count, dist 0 = landmarks") {
    // chain 3<-2<-1 plus an unreachable island 9: BFS from {1} reaches
    // dist 0 (itself via landmark init)... edges point src->dst with BFS
    // walking dst->src, matching shortestPaths' direction convention
    val e = edges(2L -> 1L, 3L -> 2L, 9L -> 8L)
    val paths = Graph.shortestPaths(e, landmarks = Seq(1L))
    val h = Graph.distanceHistogram(paths).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(h.toSeq == Seq((0L, 1L, 1L), (1L, 1L, 2L), (2L, 1L, 3L)))
    assert(h.last._3 == paths.count())
  }

  test("adamicAdar: hub cap drops wedges centered on high-degree vertices") {
    val star = edges((1L to 5L).map(i => 0L -> i): _*)
    // center degree 5 > cap 4 → no wedge survives, no candidate pairs
    assert(Graph.adamicAdar(star, maxHubDeg = 4).collect().isEmpty)
    // with the cap lifted every leaf pair scores through the center
    assert(Graph.adamicAdar(star, maxHubDeg = 64).collect().length == 10)
  }

  test("harmonicCentrality: hand-computed sums, 0-dist self rows excluded") {
    // 2→1→0 chain with landmarks {0,1}: vertex 2 reaches 0 at dist 2 and
    // 1 at dist 1 → 1.5; vertex 1 reaches 0 at dist 1 (its own 0-row to
    // landmark 1 is excluded) → 1.0; vertex 0 reaches nothing → absent
    val e = edges(2L -> 1L, 1L -> 0L)
    val paths = Graph.shortestPaths(e, landmarks = Seq(0L, 1L))
    val got = Graph.harmonicCentrality(paths).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((2L, 2L, 1.5), (1L, 1L, 1.0)), s"unexpected: $got")
    // harmonic's defining property: unreachable landmarks cost 0, they
    // never poison the sum (closeness would need an infinity convention)
    val disconnected = Graph.harmonicCentrality(
      Graph.shortestPaths(edges(2L -> 1L, 1L -> 0L, 4L -> 5L), Seq(0L, 5L)))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(disconnected(4L) == 1.0 && disconnected(2L) == 0.5)
  }

  test("modularity: two bridged triangles score the textbook contributions") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} + bridge 3→4; m = 7 canonical edges.
    // e_A = e_B = 3; deg_A = deg_B = 7 →
    // q = round6(3/7) − (7/14)² = 0.428571 − 0.25 = 0.178571 each
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("id", "component")
    val got = Graph.modularity(edges, labels).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDecimal(3).toPlainString)).toMap
    assert(got == Map(
      10L -> (3L, 7L, "0.178571"),
      20L -> (3L, 7L, "0.178571")), got.toString)
  }

  test("modularity: a community with no internal edges goes negative") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("id", "component")
    val got = Graph.modularity(edges, labels).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(3).toPlainString)).toMap
    // m = 1, e = 0, deg = 1 each → q = 0 − (1/2)² = −0.25
    assert(got == Map(1L -> (0L, "-0.250000"), 2L -> (0L, "-0.250000")), got.toString)
  }

  test("modularity over g3 labels on real data: all edges internal, degrees conserve") {
    val edges = Graph.cachedEdges(spark, sf("sf0.001"))
    val rows = Graph.modularity(edges, Graph.connectedComponents(edges)).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val m = rows.map(_._1).sum
    assert(rows.map(_._2).sum == 2 * m, "Σ deg_sum must equal 2m")
    assert(m > 0)
  }
}
