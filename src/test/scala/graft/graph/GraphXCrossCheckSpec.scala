package graft.graph

import org.apache.spark.graphx.{Edge, Graph => XGraph}

import graft.SparkSpec

/** Cross-check the native DataFrame graph algorithms against GraphX's
  * independent implementations on the real sf0.001-derived graph
  * (SURVEY.md §7.4: GraphX is test-oracle only; engine code stays
  * DataFrame). */
class GraphXCrossCheckSpec extends SparkSpec {

  private lazy val edgesDf = Graph.edgesFromOrders(spark, sf("sf0.001")).cache()
  private lazy val xgraph: XGraph[Int, Int] = {
    val e = edgesDf.collect().map(r => Edge(r.getLong(0), r.getLong(1), 1))
    XGraph.fromEdges(spark.sparkContext.parallelize(e.toSeq), 0)
  }

  test("triangle counts match GraphX exactly") {
    // GraphX triangleCount requires canonical orientation + dedup, which
    // Graph.triangleCounts does internally; compare per-vertex counts
    val ours = Graph.triangleCounts(edgesDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val theirs = xgraph.partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices.collect().toMap
    theirs.foreach { case (v, n) =>
      assert(ours.getOrElse(v, 0L) == n.toLong, s"vertex $v: ours=${ours.get(v)} graphx=$n")
    }
  }

  test("connected components match GraphX exactly") {
    val ours = Graph.connectedComponents(edgesDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val theirs = xgraph.connectedComponents().vertices.collect().toMap
    theirs.foreach { case (v, c) =>
      assert(ours(v) == c, s"vertex $v: ours=${ours(v)} graphx=$c")
    }
  }

  test("pageRankTol approximates GraphX runUntilConvergence (same fixpoint)") {
    // Both iterate r' = α + (1−α)·Σ contrib toward the same fixpoint;
    // stopping rules differ (per-vertex delta propagation vs global max
    // delta), so compare with a tolerance-scaled epsilon, not equality.
    val ours = Graph.pageRankTol(edgesDf, tol = 0.001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val theirs = xgraph.pageRank(0.001, resetProb = 0.15).vertices.collect().toMap
    assert(Graph.tolIterations.last > 1)
    theirs.foreach { case (v, rank) =>
      val o = ours(v)
      assert(math.abs(o - rank) / math.max(rank, 0.15) < 0.05,
        s"vertex $v: ours=$o graphx=$rank")
    }
  }

  test("degrees match GraphX") {
    val ours = Graph.degrees(edgesDf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val outD = xgraph.outDegrees.collect().toMap
    val inD = xgraph.inDegrees.collect().toMap
    ours.foreach { case (v, (o, i)) =>
      assert(o == outD.getOrElse(v, 0).toLong && i == inD.getOrElse(v, 0).toLong)
    }
  }
}
