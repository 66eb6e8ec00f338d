package graft.graph

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.{Lineage, Recorded}
import graft.plans.Lineage.CheckpointOps
import graft.sources.Tables

/** Native DataFrame graph analytics (SURVEY.md §2.10 G1-G6).
  *
  * The reference delegates to GraphFrames
  * (ref: StandaloneScala/EpinionsGraphFrameAnalysis.scala:57-121) and a
  * hand-rolled DataFrame PageRank (ref: StandaloneScala/PageRank.scala:45-67).
  * GraphFrames is not on our classpath, and the hand-rolled loop has a
  * known lineage hazard (no checkpoint inside the loop — SURVEY §4): every
  * iteration's plan replays all prior iterations. Here every iterative
  * algorithm rolls its loop frame through `Lineage.Gen.roll` per step (an
  * eager, stats-clamped `localCheckpoint`), so the plan (and the Catalyst
  * analysis cost) stays O(1) per iteration — the difference
  * between 20 iterations and an exponential-plan blowup at 100 TB.
  *
  * Graph model: `edges(src: Long, dst: Long)` — same shape GraphFrames
  * uses (ref EpinionsGraphFrameAnalysis.scala:58). Vertices are implied
  * (distinct endpoint set) unless given.
  *
  * Scale notes: degree counts are single hash aggregates (shuffle on the
  * vertex id); PageRank shuffles once per iteration on dst; connected
  * components is min-label propagation (O(diameter) rounds, each one
  * shuffle); triangle count canonicalizes `src<dst` first, which both
  * halves the join input and makes each triangle counted exactly once —
  * the standard trick that keeps the 3-way self-join from exploding on
  * power-law graphs (AQE handles residual skew).
  */
object Graph {
  private val Dec = DecimalType(32, 16)

  /** Vertex-id projection modulus shared by every graph query's engine
    * builder AND its DuckDB oracle twin: the gate graph is
    * (o_custkey % ProjMod, o_orderkey % ProjMod). ONE definition site —
    * a bare literal duplicated across ~20 builders and ~20 oracles is a
    * silent engine/oracle drift waiting to happen (VERDICT r13 item 7). */
  val ProjMod = 2000

  /** Denser projection for k-truss (g25) only: the mod-[[ProjMod]] gate
    * graph is too sparse to carry a 5-truss, so g25 projects mod-500 —
    * again one definition shared by the builder and the oracle. */
  val TrussProjMod = 500

  /** Deterministic test graph derived from `orders`: directed edges
    * (o_custkey % m, o_orderkey % m), self-loops dropped, deduped.
    * Mirrors the reference's integer-id edge list ingestion
    * (ref EpinionsGraphFrameAnalysis.scala:49-58). */
  def edgesFromOrders(spark: SparkSession, dir: String, m: Int = ProjMod): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") % m).cast("long").as("src"),
        (col("o_orderkey") % m).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  def edgesSql(m: Int = ProjMod): String =
    s"""SELECT DISTINCT o_custkey % $m AS src, o_orderkey % $m AS dst
       |FROM orders WHERE o_custkey % $m != o_orderkey % $m""".stripMargin

  /** Distinct endpoint set — the implied vertex table. Explode-based,
    * NOT a self-union: the input frame is referenced exactly once, so
    * (a) the edge scan runs once, not once per union branch, and
    * (b) `vertices(lazyCheckpointedFrame)` is race-free — a self-union
    * would reference an unmaterialized lazy cache twice inside one job
    * and could compute it twice (the r13 lazy-entry-checkpoint
    * contract depends on this). */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()

  /** Out-degrees ⋈ in-degrees, full outer so one-sided vertices survive
    * (ref G1/G2 EpinionsGraphFrameAnalysis.scala:66,79 `graph.outDegrees`/
    * `inDegrees`; full-outer per ref PageRank.scala:36). */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Implied vertex set hash-keyed on `id` at the loop partition count
    * — the variant of [[vertices]] for loops that join `v` every round:
    * the repartition lands BEFORE the distinct, so the aggregate reuses
    * the exchange and the checkpoint carries hash(id, np) forward
    * (round-16: exchange-free per-round joins, guide §2.4). */
  private def keyedVertices(e: DataFrame, np: Int): DataFrame = {
    val ids = e.select(explode(array(col("src"), col("dst"))).as("id"))
    if (np <= 1) ids.distinct() // SinglePartition input: no exchange
    else ids.repartition(np, col("id")).distinct()
  }

  /** Entry keying for an iterative loop (round 16, guide §2.4 "remove
    * shuffles outright"): materialize the caller's edge pipeline once,
    * size the loop partition count from its ACTUAL bytes
    * ([[Lineage.sizedParts]]), and re-key it hash(`key`, np) so every
    * per-round join/aggregate on that key is exchange-free (the
    * checkpoint re-attaches the executed plan's partitioning — see
    * LineageStats.preservePartitioning). Returns (keyedFrame, np).
    * The sizing checkpoint's blocks are released once the keyed copy
    * is materialized. */
  private[graph] def keyedEntry(frame: DataFrame, key: String): (DataFrame, Int) = {
    val raw = frame.loopCheckpoint(true)
    val np = Lineage.sizedParts(raw)
    // a 1-partition frame is already universally co-partitioned
    // (SinglePartition claim) — re-keying it would only add jobs
    if (np == 1 && rawParts(raw) == 1) (raw, 1)
    else {
      val keyed = Lineage.checkpoint(raw.repartition(np, col(key)), eager = true)
      Lineage.release(raw)
      (keyed, np)
    }
  }

  private def rawParts(cp: DataFrame): Int =
    org.apache.spark.sql.graft.LineageStats.checkpointRdd(cp)
      .map(_.getNumPartitions).getOrElse(-1)

  /** Hash-rekey for the loop's one fundamental per-round shuffle —
    * skipped at np == 1 where the input is already SinglePartition and
    * the downstream aggregate needs no exchange at all. */
  private def maybeRekey(df: DataFrame, np: Int, key: String): DataFrame =
    if (np <= 1) df else df.repartition(np, col(key))

  /** shuffle_hash hint with a build-side guard (round 17, VERDICT r16
    * item 9): the loop joins hint SHJ because the co-partitioned build
    * side is a KB-to-MB state frame — but a hinted SHJ whose build
    * partition does NOT fit execution memory OOMs where sort-merge
    * would spill. When the build frame's size is MEASURABLE (a
    * checkpoint, or a narrow projection of one — its carried stats are
    * the measured block bytes since round 17, see
    * LineageStats.measuredSize), the hint is applied only while the
    * per-partition build estimate stays within the session's advisory
    * partition size; above that the planner keeps its default
    * (sort-merge, graceful spill). Frames whose size cannot be
    * measured (mid-plan join products) keep the hint — the status quo,
    * and every such site is structurally |V|-bounded (see call sites). */
  private[graph] def shj(df: DataFrame, np: Int): DataFrame = {
    val fits = org.apache.spark.sql.graft.LineageStats.measurableBytes(df)
      .forall(b => b / math.max(1, np) <= BigInt(Lineage.advisoryBytes(df.sparkSession)))
    if (fits) df.hint("shuffle_hash") else df
  }

  /** The PageRank family's shared loop state, built once by [[prEntry]]:
    * the keyed edges `e` at `np` loop partitions, the vertex checkpoint
    * `v` with its count `n`, and the `contribs` checkpoint (every edge
    * pre-joined with its source's out-degree, reused by every round). */
  private final case class PrLoop(e: DataFrame, np: Int, v: DataFrame, n: Long,
                                  contribs: DataFrame) {
    /** One round's rank mass per `dst` from `ranks(id, rank)`: per-edge
      * contributions computed in double, quantized to DECIMAL for the
      * order-independent shuffle-sum. The shuffle_hash hint on the ranks
      * side makes `contribs ⋈ ranks` a co-partitioned hash join — no
      * per-round broadcast job, no sort of the edge-sized stream side,
      * no |V|-sized broadcast at scale — and the re-key to `dst` is the
      * round's one exchange: the one shuffle fixed-point PageRank
      * fundamentally needs (explicit repartition(np, dst) so the
      * aggregate reuses it and the update join stays co-partitioned
      * with `v` at any session conf). */
    def mass(ranks: DataFrame): DataFrame = {
      val spread = contribs
        .join(shj(ranks, np), contribs("src") === ranks("id"))
        .select(col("dst"),
          (col("rank") / col("out_deg")).cast(Dec).as("contrib"))
      maybeRekey(spread, np, "dst")
        .groupBy("dst")
        .agg(sum("contrib").cast("double").as("mass"))
    }
  }

  /** Keyed entry of every PageRank variant. The caller's edge frame is
    * checkpointed ONCE (the CC round-12 pattern): vertices, out-degrees
    * and contribs all derive from the checkpoint, so a caller-supplied
    * expensive pipeline (a d24-style match graph) runs exactly once, not
    * once per derived frame — and `v` is checkpointed too because the
    * update joins it every round (GraphSpec pins single evaluation via
    * accumulator).
    *
    * Round 16 (guide §2.4 — remove shuffles outright): the edge frame is
    * hash-keyed on src at the size-derived loop partition count ONCE
    * (the GraphX partitionBy discipline) and every checkpoint
    * re-attaches the executed plan's partitioning (see LineageStats), so
    * outDeg / contribs build exchange-free AND every round's
    * contribs ⋈ ranks is exchange-free: ranks re-acquires hash(id, np)
    * each roll because the round's final join streams the keyed `v`. At
    * cluster scale this is the difference between shuffling the edge
    * list every iteration and never re-shuffling it. Round 17: |V| rides
    * the vertex checkpoint's materialization as an observed metric — no
    * separate count() job (Lineage.checkpointCounted). */
  private def prEntry(edges: DataFrame): PrLoop = {
    val (e, np) = keyedEntry(edges.select("src", "dst"), "src")
    val (v, n) = Lineage.checkpointCounted(keyedVertices(e, np))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val contribs = e.join(outDeg, "src")
      .select(col("src"), col("dst"), col("out_deg"))
      .loopCheckpoint(true)
    PrLoop(e, np, v, n, contribs)
  }

  /** `iterations` rounds from `ranks0`: each round's `update(ranks,
    * mass)` is rolled eagerly through one generation tracker, so the
    * loop's block-store residency is O(1), not O(iterations) (keep-2,
    * see Lineage.Gen), and its lineage stays flat. */
  private def prRounds(loop: PrLoop, ranks0: DataFrame, iterations: Int)(
      update: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val rgen = Lineage.gen()
    (1 to iterations).foldLeft(ranks0) { (ranks, _) =>
      rgen.roll(update(ranks, loop.mass(ranks)), true)
    }
  }

  /** Fixed-iteration PageRank (ref G3/G6; update formula per ref
    * PageRank.scala:66 — the `α/N + (1-α)·Σ` "teleport-divided-by-N"
    * variant; dangling mass is dropped, matching the reference).
    *
    * Clean-initialization variant: rank₀ = 1/N over the full implied
    * vertex set (the reference starts at 10.0 and silently drops vertices
    * with no in-links after iteration 1 — SURVEY §2.10 quirks; set
    * `refQuirks=true` to reproduce that exactly).
    *
    * Determinism: per-edge contributions are computed in double then
    * quantized to DECIMAL for the shuffle-sum (order-independent); all
    * remaining arithmetic is scalar double (IEEE-deterministic).
    *
    * Each iteration ends in an eager `Lineage.Gen.roll` so lineage stays
    * flat (fixes the reference's unbounded-plan hazard, SURVEY §4).
    */
  def pageRank(edges: DataFrame, iterations: Int, alpha: Double = 0.15,
               refQuirks: Boolean = false): DataFrame = {
    val loop = prEntry(edges)
    val n = loop.n
    // rank₀ is a projection of the already-checkpointed v — no roll
    // needed (nothing new to materialize, partitioning flows through)
    val ranks0 = loop.v.select(col("id"), lit(if (refQuirks) 10.0 else 1.0 / n).as("rank"))
    prRounds(loop, ranks0, iterations) { (_, mass) =>
      val updated = mass.select(col("dst").as("id"),
        (lit(alpha / n) + lit(1.0 - alpha) * col("mass")).as("rank"))
      if (refQuirks) updated // ref drops vertices with no in-links
      else loop.v.join(updated.hint("shuffle_hash"), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("rank"), lit(alpha / n)).as("rank"))
    }.select(col("id"), round(col("rank"), 12).as("rank"))
  }

  /** The PageRank oracles' shared base CTEs over an edge-list CTE body
    * (any id type — the engine loop is id-type-agnostic too). */
  private def prBaseSql(edgesCte: String): String =
    s"""edges_g AS ($edgesCte),
       |v AS (SELECT src AS id FROM edges_g UNION SELECT dst FROM edges_g),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
       |outdeg AS (SELECT src, count(*) AS out_deg FROM edges_g GROUP BY src),
       |contribs AS (SELECT e.src, e.dst, o.out_deg FROM edges_g e JOIN outdeg o USING (src))""".stripMargin

  /** Round `i`'s mass CTE `m$i(dst, mass)` over `r${i-1}` — the
    * [[PrLoop.mass]] decimal/double dance, op for op. */
  private def prMassSql(i: Int): String =
    s"""m$i AS (
       |  SELECT c.dst, CAST(SUM(CAST(r.rank / c.out_deg AS DECIMAL(32,16))) AS DOUBLE) AS mass
       |  FROM contribs c JOIN r${i - 1} r ON c.src = r.id GROUP BY c.dst)""".stripMargin

  /** A PageRank variant's unrolled CTE chain: the base CTEs, `seed`
    * (the CTEs before round 1, ending in `r0`), then per round its mass
    * CTE and `update(i)` (ending in `r$i`). */
  private def prUnrollSql(edgesCte: String, seed: String, rounds: Int)(
      update: Int => String): String =
    (Seq(prBaseSql(edgesCte), seed) ++
      (1 to rounds).flatMap(i => Seq(prMassSql(i), update(i)))).mkString(",\n")

  /** Round `i`'s rank CTE `tele + (1−α)·mass` — a vertex with no incoming
    * mass keeps its teleport term (the g5/g11 update). */
  private def prTeleportSql(tele: String, alpha: Double)(i: Int): String =
    s"""r$i AS (
       |  SELECT v.id, $tele + ${1.0 - alpha} * COALESCE(m$i.mass, 0.0) AS rank
       |  FROM v LEFT JOIN m$i ON v.id = m$i.dst)""".stripMargin

  /** The [[pageRank]] oracle's CTE chain over an ARBITRARY edge-list CTE
    * body: ends at `r$iterations(id, rank)`; callers append their own
    * final SELECT. Public so non-graph modules (t12 TextRank runs
    * PageRank on a word co-occurrence graph) reuse the identical
    * unrolled double/DECIMAL dance instead of forking it. */
  def pageRankCtesSql(edgesCte: String, iterations: Int,
                      alpha: Double = 0.15): String =
    prUnrollSql(edgesCte, "r0 AS (SELECT id, 1.0 / n.n AS rank FROM v, n)", iterations) { i =>
      s"""r$i AS (
         |  SELECT v.id, COALESCE($alpha / n.n + ${1.0 - alpha} * m$i.mass, $alpha / n.n) AS rank
         |  FROM v CROSS JOIN n LEFT JOIN m$i ON v.id = m$i.dst)""".stripMargin
    }

  /** DuckDB oracle for [[pageRank]] (clean variant), iterations unrolled as
    * CTEs — must mirror the double/DECIMAL dance exactly. */
  def pageRankSql(iterations: Int, alpha: Double = 0.15, m: Int = ProjMod): String =
    s"""WITH ${pageRankCtesSql(edgesSql(m), iterations, alpha)}
       |SELECT id, round(rank, 12) AS rank FROM r$iterations ORDER BY id""".stripMargin

  /** g19: dangling-mass PageRank — the textbook-correct variant the
    * reference deliberately does NOT implement (ref PageRank.scala:45-67
    * drops the rank mass sitting on dangling vertices; [[pageRank]]
    * reproduces that, and `refQuirks` reproduces the init quirk too).
    * Here each iteration redistributes the dangling mass uniformly over
    * ALL vertices, so Σrank ≡ 1 exactly instead of leaking per step —
    * both semantics are now driver-oracled, not just spec-asserted.
    *
    * The dangling sum is the A7 scalar-attach idiom — a 1-row
    * decimal-sum frame broadcast-crossJoined into the update, no driver
    * action, so the loop stays fully distributed. Everything else is
    * [[pageRank]]'s loop. */
  def pageRankDangling(edges: DataFrame, iterations: Int,
                       alpha: Double = 0.15): DataFrame = {
    val loop = prEntry(edges)
    val (v, n) = (loop.v, loop.n)
    // out-degree-0 vertices, computed once (dst-only ids in this graph)
    val danglingIds = v.join(loop.e.select(col("src").as("id")).distinct(),
        Seq("id"), "left_anti")
      .loopCheckpoint(true)
    prRounds(loop, v.select(col("id"), lit(1.0 / n).as("rank")), iterations) { (ranks, mass) =>
      val dangling = ranks.join(shj(danglingIds, loop.np),
          Seq("id"), "left_semi")
        .agg(coalesce(sum(col("rank").cast(Dec)), lit(0).cast(Dec))
          .cast("double").as("dm"))
      v.join(mass.hint("shuffle_hash"), v("id") === mass("dst"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(v("id"),
          (lit(alpha / n) + lit(1.0 - alpha) *
            (coalesce(col("mass"), lit(0.0)) + col("dm") / n)).as("rank"))
    }.select(col("id"), round(col("rank"), 12).as("rank"))
  }

  /** DuckDB oracle for [[pageRankDangling]] — the [[pageRankSql]]
    * unrolling plus a per-iteration dangling-sum CTE, mirroring the
    * decimal/double dance exactly. */
  def pageRankDanglingSql(iterations: Int, alpha: Double = 0.15,
                          m: Int = ProjMod): String = {
    val seed =
      """dang AS (SELECT id FROM v WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = v.id)),
        |r0 AS (SELECT id, 1.0 / n.n AS rank FROM v, n)""".stripMargin
    val ctes = prUnrollSql(edgesSql(m), seed, iterations) { i =>
      s"""d$i AS (
         |  SELECT CAST(COALESCE(SUM(CAST(r.rank AS DECIMAL(32,16))), 0) AS DOUBLE) AS dm
         |  FROM r${i - 1} r JOIN dang USING (id)),
         |r$i AS (
         |  SELECT v.id, $alpha / n.n + ${1.0 - alpha} * (COALESCE(m$i.mass, 0.0) + d$i.dm / n.n) AS rank
         |  FROM v CROSS JOIN n CROSS JOIN d$i LEFT JOIN m$i ON v.id = m$i.dst)""".stripMargin
    }
    s"""WITH $ctes
       |SELECT id, round(rank, 12) AS rank FROM r$iterations ORDER BY id""".stripMargin
  }

  /** Personalized PageRank (the GraphFrames
    * `parallelPersonalizedPageRank` shape, single source set): teleport
    * mass lands uniformly on the `sources` set instead of all vertices,
    * so ranks measure proximity TO the sources. Same loop as
    * [[pageRank]]; the teleport constant is computed ONCE in Scala and
    * interpolated into both engines' expressions, so the doubles being
    * added are bit-identical. */
  def personalizedPageRank(edges: DataFrame, sources: Seq[Long],
                           iterations: Int = 3, alpha: Double = 0.15): DataFrame = {
    val loop = prEntry(edges)
    val k = sources.size
    val tele = alpha / k
    val isSrc = col("id").isin(sources: _*)
    val ranks0 = loop.v.select(col("id"),
      when(isSrc, lit(1.0 / k)).otherwise(lit(0.0)).as("rank"))
    prRounds(loop, ranks0, iterations) { (_, mass) =>
      loop.v.join(mass.withColumnRenamed("dst", "id").hint("shuffle_hash"),
          Seq("id"), "left_outer")
        .select(col("id"),
          (when(isSrc, lit(tele)).otherwise(lit(0.0)) +
            lit(1.0 - alpha) * coalesce(col("mass"), lit(0.0))).as("rank"))
    }.select(col("id"), round(col("rank"), 12).as("rank")).orderBy("id")
  }

  /** Oracle for [[personalizedPageRank]]: the [[pageRankSql]] unroll with
    * the teleport CASE restricted to the source set. */
  def personalizedPageRankSql(sources: Seq[Long], iterations: Int = 3,
                              alpha: Double = 0.15, m: Int = ProjMod): String = {
    val k = sources.size
    val tele = alpha / k
    val srcList = sources.mkString(", ")
    val seed =
      s"""r0 AS (SELECT id,
         |  CAST(CASE WHEN id IN ($srcList) THEN ${1.0 / k} ELSE 0.0 END AS DOUBLE) AS rank
         |  FROM v)""".stripMargin
    val ctes = prUnrollSql(edgesSql(m), seed, iterations)(prTeleportSql(
      s"CAST(CASE WHEN v.id IN ($srcList) THEN $tele ELSE 0.0 END AS DOUBLE)", alpha))
    s"""WITH $ctes
       |SELECT id, round(rank, 12) AS rank FROM r$iterations ORDER BY id""".stripMargin
  }

  /** Tolerance-converged PageRank (ref G3
    * EpinionsGraphFrameAnalysis.scala:93 —
    * `graph.pageRank.resetProbability(0.15).tol(0.01).run()`).
    *
    * GraphX/GraphFrames convention: rank₀ = 1.0 per vertex, update
    * `rank' = α + (1−α)·Σ contrib` (teleport NOT divided by N), iterate
    * until max |Δrank| < tol, then scale the final ranks so they sum to N
    * — GraphX normalizes exactly so since SPARK-18847, and the
    * reference's GraphFrames call inherits it. Vertices receiving no mass
    * settle at α (pre-scale). Same entry and mass step as [[pageRank]];
    * the tolerance gate rides each round's roll.
    *
    * The converged iteration count is recorded in [[tolIterations]] (see
    * [[Recorded]]) so the oracle ([[pageRankTolSql]]) can unroll exactly
    * that many iterations: DuckDB then recomputes every rank value
    * independently through the same per-iteration math; only the
    * stopping rule itself is Spark-derived.
    */
  private[graph] val tolIterations = new Recorded

  def pageRankTol(edges: DataFrame, tol: Double = 0.01,
                  alpha: Double = 0.15, recordKey: Option[String] = None): DataFrame = {
    val loop = prEntry(edges)
    val rgen = Lineage.gen()
    var ranks = rgen.roll(loop.v.select(col("id"), lit(1.0).as("rank")), true)
    var iters = 0
    var maxDelta = Double.MaxValue
    while (maxDelta >= tol) {
      val mass = loop.mass(ranks)
      // ranks always carries the full vertex set, so the update joins it
      // directly and computes the per-vertex delta in the same pass.
      // The roll is EAGER since round 16: the executed plan's
      // partitioning claim is what keeps the NEXT round exchange-free.
      val newRank = lit(alpha) + lit(1.0 - alpha) * coalesce(col("mass"), lit(0.0))
      // round 17: the tolerance gate max(delta) rides the roll's own
      // materialization as an observed metric (Lineage.rollObserved) —
      // no per-round aggregate job + driver head()
      val (next, gate) = rgen.rollObserved(
        ranks.join(mass.hint("shuffle_hash"),
            ranks("id") === mass("dst"), "left_outer")
          .select(col("id"), newRank.as("rank"),
            abs(newRank - col("rank")).as("delta")),
        max(col("delta")).as("m"))
      maxDelta = gate.getDouble(0)
      ranks = next.select("id", "rank")
      iters += 1
    }
    tolIterations.record(recordKey, iters)
    // normalize rank sum to N (GraphX SPARK-18847); the sum is
    // decimal-quantized so the scale factor is fold-order-independent
    val scale = ranks.agg(
      (lit(loop.n.toDouble) / sum(col("rank").cast(Dec)).cast("double")).as("scale"))
    ranks.crossJoin(broadcast(scale))
      .select(col("id"), round(col("rank") * col("scale"), 10).as("rank"))
  }

  /** Oracle for [[pageRankTol]]: the converged iteration count unrolled
    * as CTEs; every rank recomputed independently by DuckDB. */
  def pageRankTolSql(alpha: Double = 0.15, m: Int = ProjMod,
                     key: Option[String] = None): String =
    tolIterations.oracle("g5", key) { k =>
      val ctes = prUnrollSql(edgesSql(m), "r0 AS (SELECT id, 1.0::DOUBLE AS rank FROM v)", k)(
        prTeleportSql(alpha.toString, alpha))
      s"""WITH $ctes,
         |scale AS (
         |  SELECT (SELECT n FROM n) / CAST(SUM(CAST(rank AS DECIMAL(32,16))) AS DOUBLE) AS scale
         |  FROM r$k)
         |SELECT id, round(rank * scale, 10) AS rank
         |FROM r$k CROSS JOIN scale ORDER BY id""".stripMargin
    }

  /** Top-5 communities by size (ref EpinionsGraphFrameAnalysis.scala:107-110
    * — `connectedComponents` → `groupBy("component").count()` →
    * `orderBy(desc("count")).limit(5)`), with full tie-break keys so the
    * top-k is deterministic. */
  def communitySizes(edges: DataFrame, k: Int = 5): DataFrame =
    communitySizesFromLabels(connectedComponents(edges), k)

  /** Same over a pre-computed [[connectedComponents]] labeling. */
  def communitySizesFromLabels(labels: DataFrame, k: Int = 5): DataFrame =
    labels
      .groupBy("component").agg(count(lit(1)).as("n_members"))
      .orderBy(desc("n_members"), asc("component"))
      .limit(k)

  /** g24: Newman modularity of a community partition — the partition-
    * quality score community detection is tuned against: per community c,
    * q_c = e_c/m − (deg_c/2m)², where e_c counts canonical undirected
    * edges with BOTH endpoints in c, deg_c sums member degrees, m = |E|
    * (Newman & Girvan's definition; Q = Σ q_c). Scored here over the g3
    * component labeling (where every edge is internal — Q degenerates to
    * 1 − Σ(deg_c/2m)², a pure concentration read), but the function
    * takes ANY (id, component) labeling, so a detected partition scores
    * the same way.
    *
    * Scale shape: canonical edge list (one exchange), two broadcast
    * label joins, then everything is |communities|-sized aggregates —
    * the same one-pass-then-metadata recipe as s27. Determinism: e_c,
    * deg_c, m are exact integers; the two divisions are one
    * identical-shape double expression each, rounded to 6 dp at birth;
    * q_contrib is their exact-decimal difference. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val out6 = DecimalType(18, 6)
    // the labels frame joins twice below — checkpoint once so a
    // caller-supplied expensive labeling (a full CC run) is evaluated
    // once, not per join branch (the r13 single-evaluation contract)
    val lab = labels.select("id", "component").loopCheckpoint(true)
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .join(lab.select(col("id").as("u"), col("component").as("cu")), "u")
      .join(lab.select(col("id").as("v"), col("component").as("cv")), "v")
      .loopCheckpoint(true) // feeds m, e_c AND deg_c
    val mEdges = und.agg(count(lit(1)).as("m"))
    val eC = und.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("e_within"))
    val degC = und
      .select(col("cu").as("community")).unionAll(und.select(col("cv")))
      .groupBy("community").agg(count(lit(1)).as("deg_sum"))
    degC.join(eC, Seq("community"), "left_outer")
      .crossJoin(broadcast(mEdges))
      .select(col("community"),
        coalesce(col("e_within"), lit(0L)).as("e_within"),
        col("deg_sum"),
        (round(coalesce(col("e_within"), lit(0L)).cast("double") /
            col("m"), 6).cast(out6) -
          round((col("deg_sum").cast("double") / (lit(2) * col("m"))) *
            (col("deg_sum").cast("double") / (lit(2) * col("m"))), 6).cast(out6))
          .cast(out6).as("q_contrib"))
      .orderBy("community")
  }

  /** DuckDB oracle for [[modularity]] over the g3 labeling: the CC
    * closure CTE for labels, then the same canonical-edge/aggregate
    * arithmetic. */
  def modularitySql(m: Int = ProjMod): String =
    s"""WITH RECURSIVE edges_g AS (${edgesSql(m)}),
       |undl AS (SELECT src, dst FROM edges_g UNION SELECT dst, src FROM edges_g),
       |v AS (SELECT src AS id FROM undl UNION SELECT dst FROM undl),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT u.dst, r.lbl FROM reach r JOIN undl u ON u.src = r.id),
       |cc AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
       |canon AS (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM edges_g WHERE src != dst),
       |je AS (
       |  SELECT canon.u, canon.v, a.component AS cu, b.component AS cv
       |  FROM canon JOIN cc a ON a.id = canon.u JOIN cc b ON b.id = canon.v),
       |mt AS (SELECT count(*) AS m FROM je),
       |ec AS (SELECT cu AS community, count(*) AS e_within FROM je WHERE cu = cv GROUP BY 1),
       |degc AS (
       |  SELECT community, count(*) AS deg_sum FROM (
       |    SELECT cu AS community FROM je UNION ALL SELECT cv FROM je) t
       |  GROUP BY 1)
       |SELECT d.community,
       |  COALESCE(e.e_within, 0) AS e_within,
       |  d.deg_sum,
       |  CAST(CAST(round(CAST(COALESCE(e.e_within, 0) AS DOUBLE) / mt.m, 6) AS DECIMAL(18,6)) -
       |    CAST(round((CAST(d.deg_sum AS DOUBLE) / (2 * mt.m)) *
       |      (CAST(d.deg_sum AS DOUBLE) / (2 * mt.m)), 6) AS DECIMAL(18,6)) AS DECIMAL(18,6)) AS q_contrib
       |FROM degc d LEFT JOIN ec e USING (community) CROSS JOIN mt
       |ORDER BY d.community""".stripMargin

  def communitySizesSql(k: Int = 5, m: Int = ProjMod): String =
    s"""WITH RECURSIVE edges_g AS (${edgesSql(m)}),
       |und AS (SELECT src, dst FROM edges_g UNION SELECT dst, src FROM edges_g),
       |v AS (SELECT src AS id FROM und UNION SELECT dst FROM und),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id),
       |cc AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
       |SELECT component, count(*) AS n_members FROM cc GROUP BY component
       |ORDER BY n_members DESC, component ASC LIMIT $k""".stripMargin

  /** Connected components by min-label propagation WITH per-round
    * pointer jumping (ref G4 EpinionsGraphFrameAnalysis.scala:107
    * `graph.connectedComponents.run()`).
    *
    * Each round does (a) neighbor-min propagation — one hop of the min
    * label along edges — then (b) a pointer jump `l(v) := min(l(v),
    * l(l(v)))`, the path-compression step of union-find: label chains
    * halve in depth every round, so convergence is O(log diameter)
    * rounds instead of O(diameter). The bench social graphs converge in
    * 2-3 rounds either way, but threshold similarity graphs (s5's
    * embedding clusters) form chains with diameter ~17 — measured 17
    * rounds/5.5 s pure-propagation vs 6 rounds/~2 s with jumping.
    *
    * Labels only decrease and always name a node of the same component
    * (neighbor labels share the component; so does the label's own
    * label), so the fixpoint — no edge with unequal labels — is the
    * component-min labeling. Checkpoints are LAZY: the round's single
    * convergence-count action materializes them (an eager checkpoint
    * would spend a second full job per round on the same partitions);
    * the checkpointed frame feeding the self-join is one RDD referenced
    * twice in the DAG, computed once.
    */
  def connectedComponents(edges: DataFrame,
                          edgeRowsPerTask: Long = 1000000L): DataFrame = {
    // Checkpoint the DIRECTED edge list once, derive symmetry lazily
    // (round-12 30×/100× probe findings, in order of discovery):
    //  - the old `vertices(edges)`/symmetric-union shape re-evaluated
    //    the CALLER's raw edge pipeline three times — free for g3's
    //    checkpointed cachedEdges, but 3 × the whole candidate-pair +
    //    banded-levenshtein pipeline for d24's raw match frame (76 s
    //    each of the 30× probe's 259 s read);
    //  - the old symmetric `.distinct()` was a hash aggregate whose
    //    key space IS the full edge set (148M keys at the 100× probe:
    //    ~4.6M-key maps per task × 32 concurrent under the storage
    //    pressure of the doubled frame → AGGREGATE_OUT_OF_MEMORY).
    //    The min-label aggregations below are DUPLICATE-TOLERANT, so
    //    the dedup bought nothing: multi-edges change no label, only
    //    (negligibly) the per-round join input.
    // The checkpoint holds the directed half only (half the storage);
    // each round's symmetric view is two selects over the checkpoint —
    // no re-evaluation, no doubled block-store residency.
    // round 17: the edge count for the scaled width rides the entry
    // checkpoint's materialization (Lineage.checkpointCounted)
    val (ed, nEd) = Lineage.checkpointCounted(edges.select("src", "dst"))
    // two generation chains (keep-2 each, see Lineage.Gen): the labels
    // chain (init + each round's lazy `next`, materialized by the
    // changed-count) and the intermediate `stepped` chain — releasing
    // superseded generations bounds the loop's block residency at O(1)
    val lgen = Lineage.gen()
    val sgen = Lineage.gen()
    var labels = lgen.roll(ed.select(col("src").as("id"))
      .union(ed.select(col("dst").as("id"))).distinct()
      .select(col("id"), col("id").as("component")), true)
    // Edge-mass-scaled shuffle parallelism (round-12 100× probe
    // finding): the session's fixed shuffle-partition count is sized
    // for the registered fact tables, not for a match graph a caller
    // hands in — at the 100× d24 probe (148M symmetric edge rows) the
    // per-round joins at 32 partitions carried ~4.6M-row sort buffers
    // per task × 32 concurrent tasks against a block store already
    // holding the checkpointed frame, and execution memory hit
    // UNABLE_TO_ACQUIRE (got 0). Round 12 raised the SESSION
    // shuffle-partition conf for the loop and restored it in a finally;
    // round 13 replaces that with per-plan `repartition(scaled, key)`
    // on the heavy edge⋈labels join inputs (the d22 blocking-join
    // technique): both sides arrive hash-partitioned on the join key at
    // `scaled`, so the join plans no further exchange and runs at the
    // scaled width — with NO session-conf mutation (a concurrent query
    // on the same session is unaffected, and two overlapping CC calls
    // cannot race a set/restore — the r12 verdict's hygiene finding).
    // The |V|-sized label joins and final aggregates stay at the
    // session width: the probe's memory pressure was the |E|-carrying
    // join, never the |V| frames. Explicit NUMBERED repartition also
    // pins the width against AQE coalescing (the d22 lesson). The count
    // is one cheap job on the already-checkpointed frame; results are
    // partitioning-invariant (PartitionInvarianceSpec), so only cost
    // changes.
    val sessParts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val scaled = math.min(2048L, nEd / edgeRowsPerTask + 1).toInt
    val spreadJoin = scaled > sessParts
    // Round 16 (guide §2.4): the symmetric view is checkpointed ONCE,
    // hash-keyed on src at the edge-mass-scaled width (size-adaptive:
    // max of the measured-bytes count and the round-13 spread width),
    // so the |E|-carrying side of every round's join never exchanges
    // again — the checkpoint carries the partitioning claim (see
    // LineageStats.preservePartitioning). This supersedes the per-round
    // `undIn`/`labIn` repartitions: the labels side still exchanges at
    // the und width each round (ER matches the claimed side's count),
    // which is the |V|-sized cheap half.
    val npE = math.max(
      Lineage.sizedParts(ed) * 2, // symmetric view doubles the bytes
      if (spreadJoin) scaled else 1)
    val und = Lineage.checkpoint(
      ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(npE, col("src")), eager = true)
    var changed = 1L
    while (changed > 0) {
      val nbrMin = und.join(shj(labels, npE), und("src") === labels("id"))
        .groupBy(col("dst").as("id2"))
        .agg(min("component").as("nbr_min"))
      val stepped = sgen.roll(
        labels.join(nbrMin, labels("id") === nbrMin("id2"), "left_outer")
          .select(col("id"),
            least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"),
            col("component").as("prev")),
        false)
      // pointer jump: follow each label to ITS label (component values
      // are always live node ids, so the inner self-join keeps all rows)
      val jump = stepped.select(col("id").as("jid"), col("component").as("jcomp"))
      // round 17: eager counted roll — the convergence gate rides the
      // materialization as an observed metric (same single job the lazy
      // roll + filtered count paid), and the eager checkpoint now also
      // carries its claim and measured stats
      val (next, nChanged) = lgen.rollCounted(
        stepped.join(jump, stepped("component") === jump("jid"))
          .select(stepped("id"),
            least(stepped("component"), col("jcomp")).as("component"),
            (least(stepped("component"), col("jcomp")) < col("prev")).as("changed")),
        col("changed"))
      changed = nChanged
      labels = next.select("id", "component")
      // (A Borůvka-style per-round edge contraction was probed here on
      // the 30× dense match graph and measured SLOWER — 52 s vs 35 s
      // for the plain loop, SCALE.md "30× spot probes of the two heaviest
      // linear-wall queries" — because the relabel joins re-shuffle the
      // full edge mass exactly once more than the few rounds the
      // pointer-jumping needs on low-diameter graphs. Kept plain.)
    }
    labels
  }

  /** DuckDB oracle for [[connectedComponents]]: transitive closure via
    * recursive CTE, then min reachable label per vertex. */
  def connectedComponentsSql(m: Int = ProjMod): String =
    s"""WITH RECURSIVE edges_g AS (${edgesSql(m)}),
       |und AS (SELECT src, dst FROM edges_g UNION SELECT dst, src FROM edges_g),
       |v AS (SELECT src AS id FROM und UNION SELECT dst FROM und),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id)
       |SELECT id, min(lbl) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** Directed min-reach label fixpoint: lbl(v) = min id u (within the
    * given vertex set) with u →* v — the DIRECTED sibling of the CC
    * loop, same pointer-jumping trick (valid here too: lbl(v) names a
    * node that reaches v, and lbl(lbl(v)) reaches lbl(v), so the
    * composition reaches v transitively — labels stay sound while depth
    * halves per round). Backward reach = the same fixpoint on reversed
    * edges. */
  private def minReachLabels(edges: DataFrame, verts: DataFrame): DataFrame = {
    val lgen = Lineage.gen() // keep-2 chains, see connectedComponents
    val sgen = Lineage.gen()
    var labels = lgen.roll(verts
      .select(col("id"), col("id").as("lbl")), true)
    var changed = 1L
    while (changed > 0) {
      val nbrMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id2"))
        .agg(min("lbl").as("nbr_min"))
      val stepped = sgen.roll(
        labels.join(nbrMin, labels("id") === nbrMin("id2"), "left_outer")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"),
            col("lbl").as("prev")),
        false)
      val jump = stepped.select(col("id").as("jid"), col("lbl").as("jlbl"))
      // round 17: eager counted roll — see connectedComponents
      val (next, nChanged) = lgen.rollCounted(
        stepped.join(jump, stepped("lbl") === jump("jid"))
          .select(stepped("id"),
            least(stepped("lbl"), col("jlbl")).as("lbl"),
            (least(stepped("lbl"), col("jlbl")) < col("prev")).as("changed")),
        col("changed"))
      changed = nChanged
      labels = next.select("id", "lbl")
    }
    labels
  }

  /** g22: strongly connected components of the DIRECTED graph — the
    * mutual-reachability refinement g3's undirected components can't
    * express (GraphFrames exposes both; SURVEY §0 replaces it natively).
    * FW-BW-MIN with trimming, the standard distributed SCC recipe:
    *
    * per outer round on the live subgraph,
    *  1. TRIM: peel nodes with live in-degree 0 or out-degree 0 — they
    *     are singleton SCCs (nothing can both reach and be reached
    *     through them); repeat until none (kills DAG tendrils, the part
    *     FW-BW alone handles one layer per round).
    *  2. FW-BW-MIN: f(v) = min id reaching v, b(v) = min id v reaches
    *     (two [[minReachLabels]] fixpoints, O(log diameter) rounds
    *     each). f(v) = b(v) = c certifies v ∈ SCC(c) (c →* v →* c); the
    *     converse holds for every SCC containing its own reach-set
    *     minimum, so at least the global-min node's whole SCC — and in
    *     practice every "locally minimal" SCC — resolves per round.
    *  3. Remove assigned nodes and their edges; repeat.
    *
    * Output (id, scc) with scc = min member id — the same labeling
    * convention as g3, so downstream group-bys are interchangeable.
    *
    * Scale shape: every stage is an equi-join/aggregate on vertex keys
    * (degree counts, label joins, anti-join removal) — no closure
    * materialization (the oracle's reach CTE is O(n²) and exists ONLY
    * oracle-side); state per round is one (id, lbl) row per live
    * vertex. Outer rounds are bounded by SCC-condensation structure,
    * not n: the convergence guard fails loudly rather than silently
    * degrading. */
  def stronglyConnectedComponents(edges: DataFrame, maxOuter: Int = 30): DataFrame = {
    // keep-2 generation chains for the shrinking live/verts frames and
    // the per-trim-round keep set (see Lineage.Gen). The per-round
    // peeled/assigned frames are NOT chained: `result` is an
    // un-checkpointed union over ALL of them, so every one stays
    // referenced until the final orderBy.
    val egen = Lineage.gen()
    val vgen = Lineage.gen()
    val kgen = Lineage.gen()
    var live = egen.roll(edges.select("src", "dst").distinct(), true)
    // round 17: counted rolls/checkpoints throughout the trim/FW-BW
    // loop — every gate count rides its materialization as an observed
    // metric instead of a separate count() job
    val (verts0, nVerts) = vgen.rollCounted(vertices(live))
    var verts = verts0 // from the checkpoint — caller runs once
    // seeded empty so a vertex-less input (legal degenerate call) returns
    // an empty (id, scc) frame instead of NPE-ing on result.orderBy
    var result: DataFrame =
      verts.select(col("id"), col("id").as("scc")).limit(0)
    def add(a: DataFrame): Unit = result = result.union(a)
    var remaining = nVerts
    var outer = 0
    while (remaining > 0) {
      outer += 1
      require(outer <= maxOuter, s"SCC: no convergence in $maxOuter outer rounds")
      // 1. trim fixpoint: in-deg-0 / out-deg-0 nodes are singleton SCCs
      var trimmed = 1L
      while (trimmed > 0 && remaining > 0) {
        val haveIn = live.select(col("dst").as("id")).distinct()
        val haveOut = live.select(col("src").as("id")).distinct()
        val keep = kgen.roll(haveIn.join(haveOut, "id"), true)
        val (peeled, nPeeled) = Lineage.checkpointCounted(
          verts.join(keep, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("scc")))
        trimmed = nPeeled
        if (trimmed > 0) {
          add(peeled)
          verts = vgen.roll(verts.join(keep, Seq("id")), true)
          live = egen.roll(live
            .join(verts.select(col("id").as("src")), "src")
            .join(verts.select(col("id").as("dst")), "dst")
            .select("src", "dst"), true)
          remaining -= trimmed
        }
      }
      if (remaining > 0) {
        // 2. FW-BW-MIN assignment
        val f = minReachLabels(live, verts)
        val rev = live.select(col("dst").as("src"), col("src").as("dst"))
        val b = minReachLabels(rev, verts)
          .select(col("id"), col("lbl").as("blbl"))
        val (assigned, nAssigned) = Lineage.checkpointCounted(
          f.join(b, "id")
            .filter(col("lbl") === col("blbl"))
            .select(col("id"), col("lbl").as("scc")))
        require(nAssigned > 0, "SCC: FW-BW round assigned nothing (bug)")
        add(assigned)
        verts = vgen.roll(verts.join(assigned, Seq("id"), "left_anti"), true)
        remaining -= nAssigned
        if (remaining > 0)
          live = egen.roll(live
            .join(verts.select(col("id").as("src")), "src")
            .join(verts.select(col("id").as("dst")), "dst")
            .select("src", "dst"), true)
      }
    }
    result.orderBy("id")
  }

  /** Shared SCC-labeling CTE block (directed reach closure — O(n²)
    * pairs, oracle-side only — mutual pairs, min mutual partner per
    * vertex): `sccl(id, scc)`. Used by [[sccSql]] and
    * [[condensationLevelsSql]] so the two oracles cannot drift. */
  private def sccCtes(m: Int): String =
    s"""edges_g AS (${edgesSql(m)}),
       |v AS (SELECT src AS id FROM edges_g UNION SELECT dst FROM edges_g),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges_g
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges_g e ON e.src = r.dst),
       |mutual AS (
       |  SELECT a.src AS id, a.dst AS other
       |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
       |sccl AS (
       |  SELECT v.id, least(v.id, coalesce(min(m.other), v.id)) AS scc
       |  FROM v LEFT JOIN mutual m ON m.id = v.id GROUP BY v.id)""".stripMargin

  /** DuckDB oracle for [[stronglyConnectedComponents]]. */
  def sccSql(m: Int = ProjMod): String =
    s"""WITH RECURSIVE ${sccCtes(m)}
       |SELECT id, scc FROM sccl ORDER BY id""".stripMargin

  /** g23: topological levels of the CONDENSATION DAG — each vertex
    * tagged with its SCC and the SCC's longest-path depth from the
    * DAG's sources (level 0 = no incoming cross-SCC edge; level(t) =
    * 1 + max over condensed edges s→t). The standard dependency
    * stratification: level k can only depend on levels < k, so a
    * scheduler may run each stratum fully in parallel — the artifact a
    * pipeline/dependency analysis actually consumes after SCC finds
    * the cycles.
    *
    * Shape: condensed edge list = two label joins + distinct (SCC-count
    * sized); then FRONTIER max-relaxation — only nodes whose level rose
    * last round propagate, so total join work is O(Σ frontier-adjacent
    * edges) = O(E·depth) worst case but O(E) on shallow DAGs, and
    * per-round state is one (node, level) row per SCC. Levels only
    * increase and are bounded by DAG depth, so on a DAG the fixpoint is
    * the longest-path layering; rounds = depth (no pointer jumping —
    * max-plus "jumping" is edge squaring, which densifies and does NOT
    * scale; per-layer frontier propagation is the recipe that does).
    * Loops checkpoint through [[graft.plans.Lineage]] (stats-clamped).
    *
    * Output (id, scc, level) per vertex, ordered by id. */
  def condensationLevels(edges: DataFrame, scc: DataFrame,
      maxRounds: Int = 500): DataFrame = {
    // scc is referenced three times below (two cond joins + the level
    // seed) — checkpoint once so a caller-supplied full SCC pipeline is
    // evaluated once (the r13 single-evaluation contract)
    val sc = scc.select("id", "scc").loopCheckpoint(true)
    val cond = edges.select("src", "dst")
      .join(sc.select(col("id").as("src"), col("scc").as("s")), "src")
      .join(sc.select(col("id").as("dst"), col("scc").as("t")), "dst")
      .filter(col("s") =!= col("t"))
      .select("s", "t").distinct()
      .loopCheckpoint(true)
    val lgen = Lineage.gen() // keep-2 chains (see Lineage.Gen): levels…
    val fgen = Lineage.gen() // …and frontier; each round materializes both
    var levels = lgen.roll(sc.select(col("scc").as("node")).distinct()
      .select(col("node"), lit(0L).as("level")), true)
    var frontier = levels
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"condensationLevels: depth exceeded $maxRounds rounds (cycle? raise maxRounds)")
      val cand = cond.join(frontier, cond("s") === frontier("node"))
        .groupBy(col("t").as("node2"))
        .agg((max("level") + 1L).as("cand"))
      val next = lgen.roll(
        levels.join(cand, levels("node") === cand("node2"), "left_outer")
          .select(col("node"),
            greatest(col("level"), coalesce(col("cand"), col("level"))).as("level"),
            (coalesce(col("cand"), col("level")) > col("level")).as("raised")),
        false)
      // round 17: counted roll — the gate count rides the frontier's
      // materialization as an observed metric (no separate count job)
      val (f2, nRaised) = fgen.rollCounted(
        next.filter(col("raised")).select("node", "level"))
      frontier = f2
      changed = nRaised
      levels = next.select("node", "level")
    }
    sc.join(levels.select(col("node").as("scc"), col("level")), "scc")
      .select(col("id"), col("scc"), col("level"))
      .orderBy("id")
  }

  /** DuckDB oracle for [[condensationLevels]]: SCC labels via
    * [[sccCtes]], condensed edges, then longest-path depth as a
    * recursive (node, d) enumeration seeded at the DAG sources (UNION
    * dedups pairs; d is bounded by depth, so it terminates), max(d) per
    * node. */
  def condensationLevelsSql(m: Int = ProjMod): String =
    s"""WITH RECURSIVE ${sccCtes(m)},
       |cond AS (
       |  SELECT DISTINCT a.scc AS s, b.scc AS t
       |  FROM edges_g e
       |  JOIN sccl a ON a.id = e.src
       |  JOIN sccl b ON b.id = e.dst
       |  WHERE a.scc != b.scc),
       |nodes AS (SELECT DISTINCT scc AS node FROM sccl),
       |lv(node, d) AS (
       |  SELECT n.node, 0 FROM nodes n
       |  WHERE NOT EXISTS (SELECT 1 FROM cond c WHERE c.t = n.node)
       |  UNION
       |  SELECT c.t, l.d + 1 FROM lv l JOIN cond c ON c.s = l.node),
       |lev AS (SELECT node, CAST(max(d) AS BIGINT) AS level FROM lv GROUP BY node)
       |SELECT s.id, s.scc, l.level
       |FROM sccl s JOIN lev l ON l.node = s.scc
       |ORDER BY s.id""".stripMargin

  /** Per-vertex and total triangle counts (ref G5
    * EpinionsGraphFrameAnalysis.scala:121 `graph.triangleCount.run()`).
    *
    * Degree-ordered orientation (the Cohen / Suri-Vassilvitskii recipe):
    * dedupe to the undirected simple graph, then orient every edge from
    * its lower-(degree, id) endpoint to its higher-(degree, id) endpoint
    * and build wedges on OUT-neighbor pairs only. Each triangle
    * {x ≺ y ≺ z} is generated exactly once, as the wedge (y, z) at its
    * ≺-minimum corner x, closed by the oriented edge y→z. The payoff is
    * the wedge bound: out-degree under a total (degree, id) order is
    * O(√m), so total wedge rows are Σ out-deg² = O(m^1.5) REGARDLESS of
    * skew — a 10⁶-degree hub contributes wedges only through its few
    * higher-degree neighbors, not deg²/4 pairs, which is what keeps the
    * self-join alive on power-law graphs at 100 TB (id-canonical
    * orientation, used here through round 12, is quadratic in hub
    * degree: the r12 verdict's one `weak`). Per-vertex counts come from
    * exploding each triangle to its 3 corners — same semantics
    * GraphFrames returns. Self-loops carry no triangles and are dropped
    * with the dedup. Both joins are equi-joins, AQE-skew-splittable.
    */
  /** Canonical simple undirected edge frame (a < b, self-loops dropped,
    * deduped) from a directed edge list. */
  private[graph] def canonEdges(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Degree-ordered triangle enumeration over a CANONICAL simple edge
    * frame: each triangle emitted exactly once as (s, u, w) with
    * s ≺ u ≺ w under the total (degree, id) order — the O(m^1.5)
    * wedge machinery shared by [[triangleCounts]] and [[kTruss]]
    * (which re-runs it per peel round on the shrinking live set).
    * `canon` must already be checkpointed by the caller. */
  private[graph] def orientedTriangles(canon: DataFrame): DataFrame = {
    val deg = canon.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    // orient low-(deg, id) → high-(deg, id); carry the dst's degree so the
    // wedge pair-ordering below needs no extra join back to `deg`
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // The wedge self-join is compute-heavy on FEW bytes (Σ out-deg²
    // pairs enumerated from a KB-sized edge list), so AQE's byte-based
    // coalescing serializes it onto one core — measured 5+ s of
    // single-task CPU in g25 at sf0.1 (round 16). Key the oriented
    // frame on the wedge center at the session parallelism: the
    // self-join is then co-partitioned (zero exchange) AND spread
    // across cores; the degree orientation already bounds per-center
    // wedge counts, so hash(s) cannot be skewed by hubs.
    val kp = canon.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val oriented = withDeg.select(
        when(fwd, col("a")).otherwise(col("b")).as("s"),
        when(fwd, col("b")).otherwise(col("a")).as("d"),
        when(fwd, col("db")).otherwise(col("da")).as("dd"))
      .repartition(kp, col("s"))
      .loopCheckpoint(true) // reused 3× below (two wedge legs + closure)
    val o1 = oriented.select(col("s"), col("d").as("u"), col("dd").as("du"))
    val o2 = oriented.select(col("s"), col("d").as("w"), col("dd").as("dw"))
    val closing = oriented.select(col("s").as("u"), col("d").as("w"))
    o1.join(o2, "s")
      .filter(col("du") < col("dw") || (col("du") === col("dw") && col("u") < col("w")))
      .join(closing, Seq("u", "w"))
      .select(col("s"), col("u"), col("w"))
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val canon = canonEdges(edges)
      .loopCheckpoint(true) // caller frame evaluated once; flat plan below
    val tris = orientedTriangles(canon)
    val corners = tris.select(explode(array(col("s"), col("u"), col("w"))).as("id"))
    canon.select(col("a").as("id")).union(canon.select(col("b").as("id"))).distinct()
      .join(corners.groupBy("id").agg(count(lit(1)).as("n_tri")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Local clustering coefficient (the classic companion to triangle
    * counting; GraphFrames users derive it exactly this way from
    * `triangleCount` + `degrees`): coeff = 2·n_tri / (nbrs·(nbrs−1))
    * over the undirected distinct-neighbor graph, 0 when nbrs < 2.
    *
    * Scale shape: one count aggregate over the symmetrized edge list
    * plus two |V|-sized joins on `id` — the triangle frame is the only
    * expensive input and it is shared (memoized) with g4. The ratio is
    * rounded to 6 dp and emitted DECIMAL(18,6) on both sides (the m3
    * lesson — never hash cross-engine DOUBLE cast chains).
    */
  def clusteringCoeff(edges: DataFrame, tris: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("nbrs"))
    tris.join(deg, Seq("id"), "left_outer")
      .select(col("id"), col("n_tri"), coalesce(col("nbrs"), lit(0L)).as("nbrs"))
      .select(col("id"), col("n_tri"), col("nbrs"),
        when(col("nbrs") >= 2,
          round(col("n_tri").cast("double") * 2.0 /
            (col("nbrs") * (col("nbrs") - 1)), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)).as("coeff"))
      .orderBy("id")
  }

  def clusteringCoeffSql(m: Int = ProjMod): String =
    s"""WITH edges_g AS (${edgesSql(m)}),
       |canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges_g),
       |v AS (SELECT src AS id FROM edges_g UNION SELECT dst FROM edges_g),
       |tris AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM canon e1 JOIN canon e2 ON e1.b = e2.a
       |  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
       |corners AS (
       |  SELECT a AS id FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris),
       |cnt AS (SELECT id, count(*) AS n_tri FROM corners GROUP BY id),
       |sym AS (SELECT src, dst FROM edges_g UNION SELECT dst AS src, src AS dst FROM edges_g),
       |deg AS (SELECT src AS id, count(*) AS nbrs FROM sym GROUP BY src)
       |SELECT v.id, COALESCE(cnt.n_tri, 0) AS n_tri, COALESCE(deg.nbrs, 0) AS nbrs,
       |  CAST(CASE WHEN COALESCE(deg.nbrs, 0) >= 2
       |    THEN round(COALESCE(cnt.n_tri, 0) * 2.0 / (deg.nbrs * (deg.nbrs - 1)), 6)
       |    ELSE 0.0 END AS DECIMAL(18,6)) AS coeff
       |FROM v LEFT JOIN cnt USING (id) LEFT JOIN deg USING (id) ORDER BY id""".stripMargin

  def triangleCountsSql(m: Int = ProjMod): String =
    s"""WITH edges_g AS (${edgesSql(m)}),
       |canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges_g),
       |v AS (SELECT src AS id FROM edges_g UNION SELECT dst FROM edges_g),
       |tris AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM canon e1 JOIN canon e2 ON e1.b = e2.a
       |  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
       |corners AS (
       |  SELECT a AS id FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris),
       |cnt AS (SELECT id, count(*) AS n_tri FROM corners GROUP BY id)
       |SELECT v.id, COALESCE(cnt.n_tri, 0) AS n_tri
       |FROM v LEFT JOIN cnt USING (id) ORDER BY id""".stripMargin

  // -------------------------------------------------------------- k-truss

  /** Converged peel-round count per record key for [[kTruss]] (see
    * [[Recorded]]). */
  private[graph] val ktrussRounds = new Recorded

  /** g25: k-truss membership — the maximal subgraph in which EVERY edge
    * participates in ≥ k−2 triangles (triangles counted WITHIN the
    * subgraph). The edge-strength refinement of g9's k-core (cores bound
    * vertex degree; trusses bound edge embeddedness — the standard
    * community-backbone extractor), and a natural consumer of the
    * round's degree-ordered triangle machinery: each peel round runs
    * [[orientedTriangles]] on the LIVE canonical edge set (O(m^1.5)
    * wedges regardless of skew), explodes every triangle to its 3
    * id-canonical edges, counts per-edge support, drops edges below
    * k−2, and repeats until no edge peels. Support only decreases as
    * edges leave, so the fixpoint is the classic truss.
    *
    * Output: the surviving edges with their CONVERGED support values,
    * (a, b, support), ordered. Scale shape per round: one triangle
    * enumeration (two equi-joins) + one (a, b) hash aggregate + one
    * filter — state is one row per live edge, lineage cut per round;
    * rounds are bounded by peel depth (the recorded count), not |E|.
    * The oracle ([[kTrussSql]]) re-derives every round independently,
    * unrolled to the recorded round count — only the round COUNT is
    * Spark-derived (the g5/g7/g9 contract). */
  def kTruss(edges: DataFrame, k: Int = 5,
             recordKey: Option[String] = None): DataFrame = {
    val minSup = k - 2
    // one keep-2 chain: initial canon edges + each round's surviving
    // `keep` set (live/supported are views over the chain's latest)
    val kgen = Lineage.gen()
    // round 17: counted roll — |live| rides the entry materialization
    val (live0, nLive0) = kgen.rollCounted(canonEdges(edges)) // caller runs once
    var live = live0
    var nLive = nLive0
    var rounds = 0
    var converged = false
    var supported: DataFrame = live.select(col("a"), col("b"), lit(0L).as("support"))
    while (!converged) {
      rounds += 1
      val tris = orientedTriangles(live)
      val triEdges = tris.select(explode(array(
          struct(least(col("s"), col("u")).as("a"), greatest(col("s"), col("u")).as("b")),
          struct(least(col("s"), col("w")).as("a"), greatest(col("s"), col("w")).as("b")),
          struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      val sup = live.join(
          triEdges.groupBy("a", "b").agg(count(lit(1)).as("support")),
          Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
      // round 17: counted roll — the peel-gate count rides the
      // materialization as an observed metric (no separate count job)
      val (keep, nKeep) = kgen.rollCounted(sup.filter(col("support") >= minSup))
      converged = nKeep == nLive // keep ⊆ live, so equal counts = no peel
      supported = keep
      live = keep.select("a", "b")
      nLive = nKeep
    }
    ktrussRounds.record(recordKey, rounds)
    supported.orderBy("a", "b")
  }

  /** Oracle for [[kTruss]]: the peel rounds unrolled as CTEs to the
    * recorded count — each round re-derives triangles and per-edge
    * support from the previous round's edge set with the id-canonical
    * 3-way self-join (same triangle set as the engine's degree-ordered
    * enumeration), so nothing numeric crosses engines. Fails loudly
    * (invalid marker SQL) if g25 never recorded a run. */
  def kTrussSql(k: Int = 5, m: Int = TrussProjMod, key: Option[String] = None): String =
    ktrussRounds.oracle("g25", key) { r =>
      // every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs,
      // and each round references the previous round's edge set ~5 times,
      // so an inlined unroll re-scans the parquet 5^R times (observed as
      // fd exhaustion at R=6); materialization makes each round evaluate
      // exactly once, like the engine's per-round checkpoint
      val sb = new StringBuilder
      sb ++= s"WITH edges_g AS (${edgesSql(m)}),\n"
      sb ++= "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges_g)"
      for (i <- 1 to r) {
        val p = i - 1
        sb ++= s""",
           |t$i AS MATERIALIZED (
           |  SELECT e1.a, e1.b, e2.b AS c
           |  FROM e$p e1 JOIN e$p e2 ON e1.b = e2.a
           |  JOIN e$p e3 ON e3.a = e1.a AND e3.b = e2.b),
           |te$i AS (
           |  SELECT a AS x, b AS y FROM t$i
           |  UNION ALL SELECT a, c FROM t$i
           |  UNION ALL SELECT b, c FROM t$i),
           |s$i AS MATERIALIZED (
           |  SELECT e.a, e.b, CAST(count(te.x) AS BIGINT) AS support
           |  FROM e$p e LEFT JOIN te$i te ON te.x = e.a AND te.y = e.b
           |  GROUP BY e.a, e.b),
           |e$i AS MATERIALIZED (SELECT a, b FROM s$i WHERE support >= ${k - 2})""".stripMargin
      }
      sb ++= s"\nSELECT a, b, support FROM s$r WHERE support >= ${k - 2} ORDER BY a, b"
      sb.toString
    }

  /** g17: Adamic-Adar link prediction — for every non-adjacent vertex
    * pair (a, b) with at least one common neighbor in the undirected
    * graph, score = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)), the classic
    * common-neighbor index that downweights hub-mediated paths; top-k
    * candidate edges by score. (A common neighbor necessarily has
    * degree ≥ 2, so ln(deg) is never 0 — no ANSI division guard
    * needed.)
    *
    * Scale shape: the wedge self-join is the one quadratic term
    * (Σ_w deg(w)²), so wedge centers are capped at deg ≤ `maxHubDeg`
    * BEFORE the join — the d4 df-cap discipline. A hub's AA
    * contribution is ≤ 1/ln(cap) per pair (negligible signal, maximal
    * cost), so the cap drops exactly the rows a power-law graph can't
    * afford. Each wedge term is 6-dp-quantized before the decimal
    * shuffle sum (order-independent); the existing-edge exclusion is a
    * broadcast-able anti-join on the canonical pair. */
  def adamicAdar(edges: DataFrame, topK: Int = 20,
                 maxHubDeg: Int = 64): DataFrame = {
    // directed half checkpointed first so the caller's pipeline runs
    // once, not once per union branch (see [[labelPropagation]])
    val ed = edges.select("src", "dst").loopCheckpoint(true)
    val sym = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .loopCheckpoint(true) // reused: degrees, both wedge sides, anti-join
    val deg = sym.groupBy(col("src").as("w")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxHubDeg)
    val wedges = sym.select(col("src").as("w"), col("dst").as("a"))
      .join(sym.select(col("src").as("w"), col("dst").as("b")), "w")
      .filter(col("a") < col("b"))
    val canon = sym.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    wedges.join(deg, "w")
      .select(col("a"), col("b"),
        round(lit(1.0) / log(col("deg").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("term"))
      .groupBy("a", "b")
      .agg(sum(col("term")).cast(DecimalType(18, 6)).as("aa"))
      .join(canon, Seq("a", "b"), "left_anti")
      .orderBy(desc("aa"), asc("a"), asc("b"))
      .limit(topK)
  }

  def adamicAdarSql(topK: Int = 20, maxHubDeg: Int = 64, m: Int = ProjMod): String =
    s"""WITH edges_g AS (${edgesSql(m)}),
       |sym AS (SELECT src, dst FROM edges_g UNION SELECT dst AS src, src AS dst FROM edges_g),
       |deg AS (SELECT src AS w, count(*) AS deg FROM sym GROUP BY src HAVING count(*) <= $maxHubDeg),
       |wedges AS (
       |  SELECT x.src AS w, x.dst AS a, y.dst AS b
       |  FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst),
       |canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM sym),
       |scored AS (
       |  SELECT a, b,
       |    CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / ln(d.deg), 6) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS aa
       |  FROM wedges JOIN deg d USING (w) GROUP BY a, b)
       |SELECT s.a, s.b, s.aa FROM scored s
       |WHERE NOT EXISTS (SELECT 1 FROM canon c WHERE c.a = s.a AND c.b = s.b)
       |ORDER BY aa DESC, a ASC, b ASC LIMIT $topK""".stripMargin

  /** g18: degree-distribution power-law fit — ln(#nodes with degree k)
    * regressed on ln(k) over the undirected degree histogram (slope ≈
    * −α; real scale-free graphs fit α ∈ [2, 3], a flat slope means the
    * graph is degree-regular and skew mitigations are unnecessary).
    * The structural fingerprint read BEFORE choosing salting/cap
    * strategies for the heavy graph jobs — pairs with g15's
    * assortativity and the x22/x23 corpus fits.
    *
    * Shape: one degree aggregate (|V| rows), one histogram aggregate
    * (≤ max-degree rows — metadata), then x22's closed-form
    * least-squares discipline: ln points 6-dp decimal at birth, five
    * decimal moment sums, slope/intercept assembled in mirrored-order
    * doubles. */
  def degreePowerlaw(edges: DataFrame): DataFrame = {
    val Out6 = DecimalType(18, 6)
    val DecP = DecimalType(38, 12)
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val xy = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .select(
        round(log(col("deg").cast("double")), 6).cast(Out6).as("x"),
        round(log(col("n_nodes").cast("double")), 6).cast(Out6).as("y"))
    val s = xy.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum((col("x") * col("y")).cast(DecP)).as("sxy"),
      sum((col("x") * col("x")).cast(DecP)).as("sxx"))
    val d = s.select(col("n"),
      ((col("n").cast("double") * col("sxy").cast("double")) -
        (col("sx").cast("double") * col("sy").cast("double"))).as("num"),
      ((col("n").cast("double") * col("sxx").cast("double")) -
        (col("sx").cast("double") * col("sx").cast("double"))).as("den"),
      col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"))
      // den = 0 on a degree-regular graph (single histogram point): both
      // engines emit NULL slope/intercept instead of IEEE NaN/Inf vs a
      // DuckDB error (ADVICE r7)
      .withColumn("slope", when(col("den") =!= 0.0, col("num") / col("den")))
    d.select(col("n").as("n_degrees"),
      round(col("slope"), 6).cast(Out6).as("slope"),
      round((col("syd") - col("slope") * col("sxd")) / col("n").cast("double"), 6)
        .cast(Out6).as("intercept"))
  }

  def degreePowerlawSql(m: Int = ProjMod): String =
    s"""WITH edges_g AS (${edgesSql(m)}),
       |sym AS (SELECT src, dst FROM edges_g UNION SELECT dst AS src, src AS dst FROM edges_g),
       |deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
       |hist AS (SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg),
       |xy AS (
       |  SELECT CAST(round(ln(CAST(deg AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
       |         CAST(round(ln(CAST(n_nodes AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
       |  FROM hist
       |), s AS (
       |  SELECT count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
       |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
       |  FROM xy
       |), d AS (
       |  SELECT n,
       |    CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
       |      THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    END AS slope,
       |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
       |  FROM s
       |)
       |SELECT CAST(n AS BIGINT) AS n_degrees,
       |  CAST(round(slope, 6) AS DECIMAL(18,6)) AS slope,
       |  CAST(round((syd - slope * sxd) / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS intercept
       |FROM d""".stripMargin

  // ------------------------------------------------------- shortest paths

  /** Converged round count per record key for [[shortestPaths]] (see
    * [[Recorded]]). */
  private[graph] val bfsRounds = new Recorded

  /** Landmark shortest-path distances (the GraphFrames
    * `shortestPaths(landmarks)` shape — beyond the reference's G1-G6
    * surface, the remaining core GraphFrames batch API): for every
    * vertex, the minimum hop count to each landmark following edge
    * direction. Unreachable (vertex, landmark) pairs are absent.
    *
    * Frontier BFS, not full relaxation: each round joins EDGES against
    * only the pairs discovered last round, anti-joins the known set, and
    * unions the survivors in. The shuffle per round carries the frontier
    * (≤ new pairs), never the full distance table, and the distance
    * table itself is bounded by |V|·|landmarks| — at 1000 executors the
    * frontier join is an ordinary equi-join on dst, skew-splittable by
    * AQE. Rounds = graph eccentricity w.r.t. the landmark set; each
    * round is one job (the anti-join count doubles as the convergence
    * check), lineage cut per round like every iterative loop here.
    *
    * BFS invariant: a pair first discovered in round r has dist exactly
    * r, so no re-relaxation is ever needed — which is what makes the
    * frontier anti-join formulation correct, not just fast. The oracle
    * ([[shortestPathsSql]]) re-derives every distance independently via
    * a recursive CTE capped at the recorded round count (all true
    * distances are ≤ that count by construction; only the cap itself is
    * Spark-derived — the g5 contract). */
  def shortestPaths(edges: DataFrame, landmarks: Seq[Long],
                    recordKey: Option[String] = None): DataFrame = {
    val e = edges.select("src", "dst").loopCheckpoint(true)
    val dgen = Lineage.gen() // keep-2 chains (see Lineage.Gen): dist…
    val fgen = Lineage.gen() // …and the per-wave frontier
    var dist = dgen.roll(vertices(e) // from the checkpoint — caller frame runs once
      .filter(col("id").isin(landmarks: _*))
      .select(col("id"), col("id").as("landmark"), lit(0L).as("dist")), true)
    var frontier = dist
    var rounds = 0
    var growing = true
    while (growing) {
      // round 17: eager counted roll (was lazy + count) — claims attach
      // and the level-gate count rides the materialization
      val (next, n) = fgen.rollCounted(
        e.join(frontier, e("dst") === frontier("id"))
          .select(e("src").as("id"), col("landmark"), (col("dist") + 1L).as("dist"))
          .distinct()
          .join(dist.select("id", "landmark"), Seq("id", "landmark"), "left_anti"))
      if (n > 0) {
        dist = dgen.roll(dist.union(next), true)
        rounds += 1
      }
      growing = n > 0
      frontier = next
    }
    bfsRounds.record(recordKey, rounds)
    dist.orderBy("landmark", "id")
  }

  /** Oracle for [[shortestPaths]]: all directed walks up to the recorded
    * round count via recursive CTE, min length per (vertex, landmark).
    * Fails loudly (invalid marker SQL) if g7 never recorded a run. */
  def shortestPathsSql(landmarks: Seq[Long], m: Int = ProjMod,
                       key: Option[String] = None): String =
    bfsRounds.oracle("g7", key) { r =>
      val lm = landmarks.mkString(", ")
      s"""WITH RECURSIVE edges_g AS (${edgesSql(m)}),
         |v AS (SELECT src AS id FROM edges_g UNION SELECT dst FROM edges_g),
         |walk(id, landmark, d) AS (
         |  SELECT id, id, 0 FROM v WHERE id IN ($lm)
         |  UNION
         |  SELECT e.src, w.landmark, w.d + 1
         |  FROM walk w JOIN edges_g e ON e.dst = w.id
         |  WHERE w.d < $r)
         |SELECT id, landmark, CAST(min(d) AS BIGINT) AS dist
         |FROM walk GROUP BY id, landmark ORDER BY landmark, id""".stripMargin
    }

  /** g20: landmark distance histogram with cumulative pair counts — the
    * effective-diameter read-off (smallest d whose cum_pairs covers 90 %
    * of reached pairs) plus the full reachability profile, from the SAME
    * BFS g7 runs (shared session memo — one BFS serves both). The output
    * is ≤ diameter+1 integer rows; the window runs on those metadata
    * rows. Landmark sampling is the standard scale answer for diameter
    * estimation (exact all-pairs is O(V·E)); the histogram is exact FOR
    * THE SAMPLED LANDMARKS, which is the honest contract at any size. */
  def distanceHistogram(paths: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("dist")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    paths.groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
      .select(col("dist"), col("n_pairs"),
        sum("n_pairs").over(w).cast("long").as("cum_pairs"))
      .orderBy("dist")
  }

  def distanceHistogramSql(landmarks: Seq[Long], m: Int = ProjMod): String =
    s"""WITH paths AS (
       |  ${shortestPathsSql(landmarks, m).replace("\n", "\n  ")}
       |)
       |SELECT dist, count(*) AS n_pairs,
       |  CAST(SUM(count(*)) OVER (ORDER BY dist
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pairs
       |FROM paths GROUP BY dist ORDER BY dist""".stripMargin

  /** g21: landmark harmonic centrality — for every vertex, Σ 1/dist to
    * each REACHED landmark (its own 0-distance row excluded; unreachable
    * landmarks contribute 0, harmonic centrality's defining advantage
    * over closeness on disconnected graphs). Landmark sampling is the
    * same scale contract as g20: exact for the sampled landmark set,
    * the standard estimator shape at any graph size (exact all-pairs
    * closeness is O(V·E)). Rides the SAME memoized g7 BFS — registering
    * this adds zero BFS rounds to a session. Each 1/dist is rounded to
    * 6-dp DECIMAL at birth (dist is an exact integer, so equal dists
    * give identical contributions on both engines); per-vertex sums are
    * exact decimals; ties order by id. Output is |V| metadata-sized
    * rows. */
  def harmonicCentrality(paths: DataFrame): DataFrame =
    paths.filter(col("dist") > 0)
      .select(col("id"),
        round(lit(1.0) / col("dist").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("contrib"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_reached"),
        sum(col("contrib").cast(DecimalType(32, 12))).cast("double")
          .as("harmonic"))
      .orderBy(desc("harmonic"), asc("id"))

  def harmonicCentralitySql(landmarks: Seq[Long], m: Int = ProjMod): String =
    s"""WITH paths AS (
       |  ${shortestPathsSql(landmarks, m).replace("\n", "\n  ")}
       |)
       |SELECT id, count(*) AS n_reached,
       |  CAST(SUM(CAST(CAST(round(1.0 / CAST(dist AS DOUBLE), 6) AS DECIMAL(18,6))
       |    AS DECIMAL(32,12))) AS DOUBLE) AS harmonic
       |FROM paths WHERE dist > 0
       |GROUP BY id ORDER BY harmonic DESC, id ASC""".stripMargin

  // ------------------------------------------- weighted shortest paths

  /** Converged relaxation-wave count per record key for
    * [[weightedSssp]] (see [[Recorded]]). */
  private[graph] val wssspRounds = new Recorded

  /** Deterministic positive integer weights for the bench graph:
    * w = 1 + (3·src + 7·dst) mod 9 ∈ [1, 9]. Purely a test-corpus
    * weighting (the parquet tables carry no edge weights); any caller
    * frame with its own (src, dst, w) goes straight to
    * [[weightedSssp]]. */
  def weightedEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"),
      (lit(1L) + (col("src") * 3L + col("dst") * 7L) % 9L).as("w"))

  def weightedEdgesSql(m: Int = ProjMod): String =
    s"""SELECT src, dst, 1 + (3 * src + 7 * dst) % 9 AS w
       |FROM (${edgesSql(m)}) edges_raw""".stripMargin

  /** g26: weighted single-source shortest paths to a landmark set — the
    * weighted companion of g7's hop-count BFS (GraphFrames has no
    * weighted variant at all; this is the standard frontier Bellman-Ford
    * formulation). For every vertex, the minimum total edge weight of a
    * directed path to each landmark; unreachable pairs absent, exactly
    * like g7.
    *
    * Frontier relaxation, not all-pairs: each wave relaxes edges ONLY
    * from vertices improved in the previous wave (candidates are
    * min-combined per (vertex, landmark) BEFORE the distance-table
    * join, so the shuffle carries at most one row per touched pair),
    * keeps strict improvements against the global table, and merges
    * them in (anti-join + union — the table is never rebuilt). Waves =
    * weighted eccentricity in improvement fronts, each wave one job;
    * lineage cut per wave. Frontier Bellman-Ford computes exactly the
    * full-relaxation round-k table at wave k (any full-round
    * improvement must route through a vertex improved the round
    * before), which is what makes the unrolled full-relax oracle
    * ([[weightedSsspSql]]) value-identical, not just convergent.
    * Weights are integers end-to-end — nothing float crosses engines. */
  def weightedSssp(edgesW: DataFrame, landmarks: Seq[Long],
                   recordKey: Option[String] = None): DataFrame = {
    // round 16: relaxation probes the edge list on dst every wave —
    // key it once (see pageRank); the frontier side is the tiny half
    val (e, np) = keyedEntry(edgesW.select("src", "dst", "w"), "dst")
    val dgen = Lineage.gen() // keep-2 chains (see Lineage.Gen): dist…
    val fgen = Lineage.gen() // …and the per-wave improvement frontier
    var dist = dgen.roll(e.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct() // from the checkpoint — caller frame runs once
      .filter(col("id").isin(landmarks: _*))
      .select(col("id"), col("id").as("landmark"), lit(0L).as("wdist")), true)
    var frontier = dist
    var rounds = 0
    var improving = true
    while (improving) {
      // round 17: explicit shuffle_hash on the settled/frontier sides —
      // with truthful measured checkpoint stats (LineageStats.measuredSize)
      // these joins would otherwise flip to per-wave broadcasts (a
      // BroadcastExchange job per wave); the hinted SHJ reads the claimed
      // co-partitioning instead (exchange-free at np == 1)
      val cand = e.join(shj(frontier, np), e("dst") === frontier("id"))
        .groupBy(e("src").as("id"), col("landmark"))
        .agg(min(col("wdist") + col("w")).as("cand"))
      // eager counted roll (was lazy + count): the claim and measured
      // stats only attach to EAGER checkpoints, and the wave-gate count
      // rides the materialization as an observed metric — no per-wave
      // count() job (Lineage.rollCounted)
      val (improved, n) = fgen.rollCounted(cand.join(shj(dist, np),
          Seq("id", "landmark"), "left_outer")
        .filter(col("wdist").isNull || col("cand") < col("wdist"))
        .select(col("id"), col("landmark"), col("cand").as("wdist")))
      if (n > 0) {
        dist = dgen.roll(dist
          .join(shj(improved.select("id", "landmark"), np),
            Seq("id", "landmark"), "left_anti")
          .union(improved),
          true)
        rounds += 1
      }
      improving = n > 0
      frontier = improved
    }
    wssspRounds.record(recordKey, rounds)
    dist.orderBy("landmark", "id")
  }

  /** Oracle for [[weightedSssp]]: full Bellman-Ford relaxation unrolled
    * to the recorded wave count — each round takes the (vertex,
    * landmark)-min over the previous table and one more relaxation step
    * across every weighted edge. Only the round COUNT is Spark-derived
    * (the g5/g7 contract). Fails loudly if g26 never recorded a run. */
  def weightedSsspSql(landmarks: Seq[Long], m: Int = ProjMod,
                      key: Option[String] = None): String =
    wssspRounds.oracle("g26", key) { r =>
      val lm = landmarks.mkString(", ")
      val sb = new StringBuilder
      sb ++= s"WITH ew AS MATERIALIZED (${weightedEdgesSql(m)}),\n"
      sb ++= "v AS (SELECT src AS id FROM ew UNION SELECT dst FROM ew),\n"
      sb ++= s"d0 AS MATERIALIZED (SELECT id, id AS landmark, CAST(0 AS BIGINT) AS wdist FROM v WHERE id IN ($lm))"
      for (i <- 1 to r) {
        val p = i - 1
        sb ++= s""",
           |d$i AS MATERIALIZED (
           |  SELECT id, landmark, CAST(min(wdist) AS BIGINT) AS wdist FROM (
           |    SELECT id, landmark, wdist FROM d$p
           |    UNION ALL
           |    SELECT e.src AS id, d.landmark, d.wdist + e.w AS wdist
           |    FROM d$p d JOIN ew e ON e.dst = d.id
           |  ) u GROUP BY id, landmark)""".stripMargin
      }
      sb ++= s"\nSELECT id, landmark, wdist FROM d$r ORDER BY landmark, id"
      sb.toString
    }

  // ------------------------------------------------ betweenness centrality

  /** Forward BFS level count per record key for [[betweenness]] (see
    * [[Recorded]]). */
  private[graph] val btwLevels = new Recorded

  /** g27: betweenness centrality over a pivot set — Brandes' algorithm
    * (Brandes 2001, "A faster algorithm for betweenness centrality"),
    * the standard shortest-path-load centrality: bc(v) = Σ over pivots
    * s and targets t of the fraction of s→t shortest paths through v.
    * Pivot sampling is the same scale contract as g7/g20/g21 landmarks:
    * exact FOR THE SAMPLED PIVOT SET (full Brandes is one run per
    * vertex — O(V·E), unpayable at any real size; pivot subsets are the
    * standard estimator, Brandes/Pich 2007).
    *
    * Forward sweep: level-synchronous BFS from all pivots at once
    * carrying σ (shortest-path counts — a new vertex at level r has
    * σ = Σ σ(predecessors at r−1), computed by the frontier join's
    * hash aggregate). Backward sweep: levels processed deepest-first;
    * each dependency contribution δ-edge (v→w on a shortest path) is
    * σ_v·(1+δ_w)/σ_w, quantized at birth to 6-dp MICRO-UNIT INTEGERS
    * via exact integer HALF_UP — ⌊(2p+q)/(2q)⌋ with p = σ_v·(10⁶+δ_w),
    * q = σ_w — because the first formulation (round(double, 6)) hit a
    * real half-boundary divergence at the sf0.01 gate: Spark rounds the
    * double's shortest decimal repr HALF_UP, DuckDB rounds in double
    * arithmetic, and one of ~50k contributions landed on opposite sides
    * (one micro off in the final sum). Integer micro-math makes the
    * recursion bit-exact on both engines — the d17/x27 exact-arithmetic
    * discipline, no float anywhere. bc(v) = Σ δ over pivots, v ≠ pivot,
    * reconstructed to DECIMAL(18,6) only at the output boundary.
    *
    * Scale shape: 2·levels rounds, each ONE frontier-sized equi-join +
    * one hash aggregate — state is one row per reached (pivot, vertex),
    * bounded by |pivots|·|V|; lineage cut per round; no adjacency
    * lists, no per-vertex loops. σ stays a BIGINT; the micro-math bound
    * is 2·σ·(10⁶+δ_micro) < 2⁶³ — σ·δ ≲ 4.6×10¹² with δ ≤ |V| per
    * pivot, comfortably above any graph whose σ fits a BIGINT sum. */
  def betweenness(edges: DataFrame, pivots: Seq[Long],
                  recordKey: Option[String] = None): DataFrame = {
    // round 16: the forward sweep probes e on src every level, the
    // backward sweep on dst every level — keep one keyed copy per
    // direction (free at np == 1, two one-time shuffles at scale;
    // see pageRank / hits)
    val (e, np) = keyedEntry(edges.select("src", "dst"), "src")
    val eDst =
      if (np <= 1) e
      else Lineage.checkpoint(e.repartition(np, col("dst")), eager = true)
    val verts = vertices(e) // from the checkpoint — caller frame runs once
    // keep-2 chains for the forward sweep (see Lineage.Gen). The
    // backward sweep's `delta` is deliberately NOT chained: `acc` is an
    // un-checkpointed union referencing every delta generation until
    // the final aggregate, and the level count (BFS depth) bounds it.
    val ngen = Lineage.gen()
    val fgen = Lineage.gen()
    var nodes = ngen.roll(verts
      .filter(col("id").isin(pivots: _*))
      .select(col("id"), col("id").as("pivot"), lit(0).as("dist"), lit(1L).as("sigma")),
      true)
    var frontier = nodes
    var lvl = 0
    var growing = true
    while (growing) {
      // round 17: eager counted roll (was lazy + count) — the
      // partitioning claim and measured stats only attach to EAGER
      // checkpoints, so the next level's e ⋈ frontier join runs off the
      // claimed co-partitioning, and the level-gate count rides the
      // materialization as an observed metric (no per-level count()
      // job). The anti-join side is hinted so the now-truthfully-small
      // nodes frame doesn't flip it to a per-level broadcast job.
      val (next, n) = fgen.rollCounted(e.join(shj(frontier, np),
          e("src") === frontier("id"))
        .groupBy(col("pivot"), e("dst").as("nid"))
        .agg(sum("sigma").as("sigma"))
        .withColumnRenamed("nid", "id")
        .join(shj(nodes.select("pivot", "id"), np),
          Seq("pivot", "id"), "left_anti")
        .select(col("id"), col("pivot"), lit(lvl + 1).as("dist"), col("sigma")))
      if (n > 0) { nodes = ngen.roll(nodes.union(next), true); lvl += 1 }
      growing = n > 0
      frontier = next
    }
    val levels = lvl
    btwLevels.record(recordKey, levels)
    // Runtime guard for the documented micro-math bound (ADVICE r13): σ
    // grows multiplicatively on diamond-dense graphs (exponential in BFS
    // depth), so CHECK — not assume — that every backward contribution
    // 2·σ_v·(10⁶+δ_w)+σ_w fits a BIGINT. δ_micro ≤ 10⁶·|V| per pivot
    // (δ is a sum of path fractions over at most |V|−1 targets), so the
    // worst term is below 2·σ_max·10⁶·(|V|+1)+σ_max; overflow now fails
    // loudly instead of silently wrapping the HALF_UP recursion. One
    // tiny aggregate over the already-checkpointed BFS table.
    val guard = nodes.agg(max("sigma"), countDistinct("id")).head()
    // max over an EMPTY BFS table is NULL (no pivots / no edges — a
    // degenerate-but-legal input SCC explicitly supports): skip the
    // check rather than NPE; an empty sweep trivially cannot overflow
    // (ADVICE r14)
    if (!guard.isNullAt(0)) {
      val (smax, nv) = (guard.getLong(0), guard.getLong(1))
      require(BigInt(2) * smax * 1000000L * (nv + 1) + smax < BigInt(Long.MaxValue),
        s"betweenness: max sigma=$smax at |V|=$nv would overflow the " +
          "micro-unit BIGINT backward recursion (2*sigma*(1e6+delta) >= 2^63)")
    }
    // backward accumulation, deepest level first; δ in micro-unit longs
    var delta = nodes.filter(col("dist") === levels)
      .select(col("pivot"), col("id"), lit(0L).as("delta"), col("sigma"))
      .loopCheckpoint(true)
    var acc = delta.select("pivot", "id", "delta")
    // per-level contribution aggregates are keep-2 gen-chained (each is
    // consumed by its own level's eager delta checkpoint); delta itself
    // stays un-chained — acc references every generation (see above)
    val cgen = Lineage.gen()
    for (r <- (levels - 1) to 0 by -1) {
      val down = delta.select(col("pivot"), col("id").as("wv"),
        col("sigma").as("sw"), col("delta").as("dw"))
      val up = nodes.filter(col("dist") === r)
        .select(col("pivot"), col("id").as("v"), col("sigma").as("sv"))
      val contrib = eDst.select(col("src").as("v"), col("dst").as("wv"))
        .join(shj(down, np), Seq("wv"))
        .join(shj(up, np), Seq("pivot", "v"))
        .select(col("pivot"), col("v"),
          // HALF_UP(σv·(1e6+δw)/σw) in exact integer arithmetic
          expr("(2 * sv * (1000000 + dw) + sw) div (2 * sw)").as("c"))
      // round 17: the per-level aggregate is checkpointed BEFORE the
      // delta update join — the update's children are then both measured
      // leaf checkpoints, so it plans exchange-free off the claims
      // instead of being force-re-shuffled on its join-product estimate
      val contribAgg = cgen.roll(
        contrib.groupBy("pivot", "v").agg(sum("c").as("delta")), true)
      delta = up
        .join(shj(contribAgg, np), Seq("pivot", "v"), "left_outer")
        .select(col("pivot"), col("v").as("id"),
          coalesce(col("delta"), lit(0L)).as("delta"), col("sv").as("sigma"))
        .loopCheckpoint(true)
      acc = acc.union(delta.select("pivot", "id", "delta"))
    }
    val bc = acc.filter(col("id") =!= col("pivot"))
      .groupBy("id")
      .agg(sum("delta").as("micro"))
      // exact reconstruction: micro/1e6 is a 6-dp grid point, the double
      // is within 1 ulp of it, and round(·, 6) recovers it exactly
      .select(col("id"),
        round(col("micro") / lit(1000000.0), 6).cast(DecimalType(18, 6)).as("btw"))
    verts.join(bc, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("btw"), lit(BigDecimal(0)).cast(DecimalType(18, 6))).as("btw"))
      .orderBy("id")
  }

  /** Oracle for [[betweenness]]: forward levels and backward dependency
    * rounds unrolled as MATERIALIZED CTEs to the recorded level count
    * (each round references the previous several times — the g25
    * materialization lesson). Every δ contribution is the identical
    * micro-unit integer HALF_UP expression, so both engines run the
    * same bit-exact integer recursion (see [[betweenness]] for why the
    * round(double, 6) formulation was abandoned). Fails loudly if g27
    * never recorded a run. */
  def betweennessSql(pivots: Seq[Long], m: Int = ProjMod,
                     key: Option[String] = None): String =
    btwLevels.oracle("g27", key) { l =>
      val pv = pivots.mkString(", ")
      val sb = new StringBuilder
      sb ++= s"WITH edges_g AS MATERIALIZED (${edgesSql(m)}),\n"
      sb ++= "v AS (SELECT src AS id FROM edges_g UNION SELECT dst FROM edges_g),\n"
      sb ++= s"n0 AS MATERIALIZED (SELECT id, id AS pvt, 0 AS dist, CAST(1 AS BIGINT) AS sigma FROM v WHERE id IN ($pv)),\n"
      sb ++= "f0 AS MATERIALIZED (SELECT * FROM n0)"
      for (i <- 1 to l) {
        val p = i - 1
        sb ++= s""",
           |f$i AS MATERIALIZED (
           |  SELECT e.dst AS id, f.pvt, $i AS dist, CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM f$p f JOIN edges_g e ON e.src = f.id
           |  WHERE NOT EXISTS (SELECT 1 FROM n$p n WHERE n.pvt = f.pvt AND n.id = e.dst)
           |  GROUP BY e.dst, f.pvt),
           |n$i AS MATERIALIZED (SELECT * FROM n$p UNION ALL SELECT id, pvt, dist, sigma FROM f$i)""".stripMargin
      }
      sb ++= s""",
         |b$l AS MATERIALIZED (
         |  SELECT pvt, id, sigma, CAST(0 AS BIGINT) AS delta
         |  FROM n$l WHERE dist = $l)""".stripMargin
      for (r <- (l - 1) to 0 by -1) {
        sb ++= s""",
           |b$r AS MATERIALIZED (
           |  SELECT cur.pvt, cur.id, cur.sigma,
           |    CAST(COALESCE(SUM((2 * cur.sigma * (1000000 + dn.delta) + dn.sigma)
           |      // (2 * dn.sigma)), 0) AS BIGINT) AS delta
           |  FROM (SELECT pvt, id, sigma FROM n$l WHERE dist = $r) cur
           |  LEFT JOIN edges_g e ON e.src = cur.id
           |  LEFT JOIN b${r + 1} dn ON dn.pvt = cur.pvt AND dn.id = e.dst
           |  GROUP BY cur.pvt, cur.id, cur.sigma)""".stripMargin
      }
      val unionAll = (0 to l).map(r => s"SELECT pvt, id, delta FROM b$r")
        .mkString("\n    UNION ALL ")
      sb ++= s"""
         |SELECT v.id, COALESCE(b.btw, CAST(0 AS DECIMAL(18,6))) AS btw
         |FROM v LEFT JOIN (
         |  SELECT id, CAST(round(SUM(delta) / 1000000.0, 6) AS DECIMAL(18,6)) AS btw
         |  FROM ($unionAll) allb
         |  WHERE id <> pvt GROUP BY id) b USING (id)
         |ORDER BY id""".stripMargin
      sb.toString
    }

  // ------------------------------------------------ greedy modularity moves

  /** g29: one-level Louvain community detection — semi-synchronous
    * greedy modularity moves (Blondel et al. 2008 phase 1, determinized
    * the way distributed implementations do it): every vertex starts in
    * its own community; each round every vertex computes, over the
    * communities of its neighbors plus its own, the modularity gain of
    * moving there, and the PARITY-MATCHING half of the vertices adopts
    * its argmax (round r moves vertices with id ≡ r (mod 2)). The
    * parity alternation is what makes the synchronous update converge —
    * a fully synchronous greedy move oscillates on any tight pair (both
    * endpoints of an edge adopt each other's community forever), the
    * same bipartite-oscillation failure GraphFrames documents for LPA.
    *
    * Scoring is EXACT INTEGER arithmetic: gain ∝ 2m·e_{v→c} −
    * deg(v)·(deg(c) − [c = c(v)]·deg(v)) — the standard ΔQ numerator
    * scaled by 2m², so no division, no floats, no cross-engine rounding
    * surface at all (the g27 micro-math discipline, here exact without
    * quantizing). Ties break to staying put, then to the smallest
    * community id. Bound: 2m·e_vc and deg·cdeg both ≤ 2m·max_deg·2 ≪
    * 2⁶³ for any graph whose degree sums fit a BIGINT.
    *
    * Scale shape per round: one |E|-row join of the symmetric edge list
    * against the label table (partial-aggregated (vertex, community)
    * counts), one |communities|-sized degree-sum aggregate, one
    * MAX-STRUCT hash aggregate for the per-vertex argmax (map-side
    * combinable, no per-vertex sort — lexicographic struct order
    * encodes the (score desc, stay-first, smallest community) tie
    * chain), 2m as a broadcast 1-row frame (A7 pattern — no driver
    * action). Lineage cut per round; label state is |V| rows. */
  def louvain(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val ed = edges.select("src", "dst").loopCheckpoint(true)
    // round 16: sym is probed on dst every round — key it once at the
    // size-derived width (see pageRank / labelPropagation)
    val np = math.max(1, Lineage.sizedParts(ed) * 2)
    val sym = Lineage.checkpoint(
      ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().repartition(np, col("dst")), eager = true)
    // round 17 (guide §2.4, VERDICT r16 item 4 — the louvain job floor):
    // the degree table is keyed hash(id, np) ONCE and carries 2m as a
    // column (one broadcast per RUN instead of one per round), so every
    // per-round join on id — labels ⋈ degT, cands ⋈ labels ⋈ degT, and
    // the argmax aggregate — runs exchange-free off the claimed
    // checkpoints. The per-round community-degree join is replaced by a
    // window: cdeg(community) rides the label rows as SUM(deg) OVER
    // (PARTITION BY community) after the round's ONE |V|-row re-key to
    // hash(community) — identical exact-integer sums, no commDeg frame,
    // no join back on community, and the candidate stream (≥ |V| rows)
    // never leaves hash(id). Neighbor counts and the stay-option merge
    // into ONE aggregate: per-edge rows carry evc = 1 and the own row
    // evc = 0, so SUM(evc) ≡ the old COUNT(*)-then-MAX(evc, 0) by
    // identity; cdeg is functionally dependent on the grouped community,
    // so MAX(cdeg) = cdeg. Fundamental per-round exchanges: the
    // hash(community) re-key of the |V| label rows, the labelsC re-key
    // to the edge join's dst, and the candidate re-key to hash(id) —
    // down from ~10 exchange stages per round.
    val degT = sym.select(col("src").as("id"))
      .repartition(np, col("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .crossJoin(broadcast(sym.agg(count(lit(1)).as("twom"))))
      .loopCheckpoint(true)
    val lgen = Lineage.gen() // keep-2 label chain (see Lineage.Gen)
    var labels = lgen.roll(degT.select(col("id"), col("id").as("community")),
      true)
    val WC = org.apache.spark.sql.expressions.Window.partitionBy("community")
    for (r <- 1 to rounds) {
      val labelsC = labels.join(shj(degT, np), "id")
        .repartition(np, col("community"))
        .withColumn("cdeg", sum("deg").over(WC))
      val nbrRows = sym
        .join(labelsC.select(col("id").as("dst"), col("community"), col("cdeg"))
          .hint("shuffle_hash"), "dst")
        .select(col("src").as("id"), col("community"), col("cdeg"),
          lit(1L).as("evc"))
      val ownRows = labelsC
        .select(col("id"), col("community"), col("cdeg"), lit(0L).as("evc"))
      // repartition-then-agg, deliberately: a direct groupBy(id,
      // community) would partial-aggregate map-side (guide §2.3), but
      // Louvain's early rounds have near-singleton (vertex, community)
      // groups — measured r17: the partial buffers reduced nothing and
      // the aggregated stream paid an EXTRA re-key to hash(id) for the
      // join chain below (46 jobs / 21.8 MB shuffled / 3.2 s task time
      // vs 34 / 15.5 / 2.5 for this shape). The explicit hash(id) re-key
      // is the round's one candidate-stream shuffle, reused by the
      // aggregate AND every downstream id-join.
      val cands = nbrRows.unionByName(ownRows)
        .repartition(np, col("id"))
        .groupBy("id", "community")
        .agg(sum("evc").as("evc"), max("cdeg").as("cdeg"))
      // argmax by (score desc, stay-first, smallest community) as a
      // MAX-STRUCT hash aggregate — map-side combinable, no per-vertex
      // sort; lexicographic struct order encodes exactly the old rank
      // window's (score DESC, is_own DESC, community ASC): max score,
      // then max is_own, then max(-community) = min community. The
      // oracle keeps the window formulation — same winner by identity.
      val best = cands
        .join(shj(labels.select(col("id"), col("community").as("c0")), np), "id")
        .join(shj(degT, np), "id")
        .select(col("id"), col("community"), col("c0"),
          (col("twom") * col("evc") - col("deg") *
            (col("cdeg") - when(col("community") === col("c0"), col("deg"))
              .otherwise(lit(0L)))).as("score"),
          when(col("community") === col("c0"), lit(1)).otherwise(lit(0)).as("is_own"))
        .groupBy("id", "c0") // c0 is functionally dependent on id — same
        .agg(max(struct(col("score"), col("is_own"), // cardinality, and it
          (-col("community")).as("negc"))).as("m"))  // saves a join-back
        .select(col("id"), col("c0"), (-col("m.negc")).as("community"))
      labels = lgen.roll(best
        .select(col("id"),
          when(pmod(col("id"), lit(2)) === lit(r % 2), col("community"))
            .otherwise(col("c0")).as("community")),
        true)
    }
    labels.orderBy("id")
  }

  /** Oracle for [[louvain]]: the (fixed) move rounds unrolled as
    * MATERIALIZED CTEs — identical integer scoring, identical
    * stay-then-smallest tie order, identical parity gating. Fully
    * static — nothing Spark-derived. */
  def louvainSql(rounds: Int = 4, m: Int = ProjMod): String = {
    val sb = new StringBuilder
    sb ++= s"WITH edges_g AS (${edgesSql(m)}),\n"
    sb ++= """sym AS MATERIALIZED (SELECT src, dst FROM edges_g UNION SELECT dst AS src, src AS dst FROM edges_g),
       |dg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
       |tm AS (SELECT count(*) AS twom FROM sym),
       |l0 AS MATERIALIZED (SELECT id, id AS community FROM dg)""".stripMargin
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s""",
         |cd$r AS MATERIALIZED (
         |  SELECT l.community, SUM(d.deg) AS cdeg
         |  FROM l$p l JOIN dg d USING (id) GROUP BY l.community),
         |nb$r AS MATERIALIZED (
         |  SELECT s.src AS id, l.community, count(*) AS evc
         |  FROM sym s JOIN l$p l ON l.id = s.dst
         |  GROUP BY s.src, l.community),
         |cn$r AS MATERIALIZED (
         |  SELECT id, community, MAX(evc) AS evc FROM (
         |    SELECT id, community, evc FROM nb$r
         |    UNION ALL
         |    SELECT l.id, l.community, COALESCE(n.evc, 0)
         |    FROM l$p l LEFT JOIN nb$r n ON n.id = l.id AND n.community = l.community
         |  ) u GROUP BY id, community),
         |pk$r AS MATERIALIZED (
         |  SELECT id, community, c0 FROM (
         |    SELECT c.id, c.community, l.community AS c0,
         |      row_number() OVER (PARTITION BY c.id ORDER BY
         |        t.twom * c.evc - d.deg *
         |          (cd.cdeg - CASE WHEN c.community = l.community THEN d.deg ELSE 0 END) DESC,
         |        CASE WHEN c.community = l.community THEN 1 ELSE 0 END DESC,
         |        c.community ASC) AS rn
         |    FROM cn$r c
         |    JOIN l$p l USING (id)
         |    JOIN dg d USING (id)
         |    JOIN cd$r cd ON cd.community = c.community
         |    CROSS JOIN tm t
         |  ) z WHERE rn = 1),
         |l$r AS MATERIALIZED (
         |  SELECT id, CASE WHEN id % 2 = ${r % 2} THEN community ELSE c0 END AS community
         |  FROM pk$r)""".stripMargin
    }
    sb ++= s"\nSELECT id, community FROM l$rounds ORDER BY id"
    sb.toString
  }

  // --------------------------------------------------------- random walks

  /** g28: deterministic random-walk corpus generation — the DeepWalk /
    * node2vec preprocessing step (Perozzi et al. 2014): one walk per
    * vertex, `steps` hops, each hop choosing an out-neighbor by a
    * pseudo-random but DETERMINISTIC draw — neighbor index
    * md5_32(walk_id:step) mod outdeg under the (dst asc) neighbor
    * ranking — so the corpus is reproducible across runs, partitionings,
    * and engines (the x6/x27 md5 idiom; no RNG anywhere). Walks stop
    * early at sinks (no out-edges), exactly like the original algorithm.
    *
    * Scale shape per hop: TWO equi-joins, both one-row-per-walk — the
    * frontier first joins the |V|-sized degree table to compute its
    * pick index, THEN equi-joins the ranked adjacency on (src, idx).
    * Joining adjacency first and filtering after would materialize
    * deg(v) rows per walk sitting at v — a hub blowup; the
    * degree-first formulation never widens beyond one row per live
    * walk. The adjacency ranking itself is one row_number window
    * partitioned by src (a hub's neighbor list sorts within one
    * partition — |deg| log |deg| once, reused every hop). Lineage cut
    * per hop; output ≤ |V|·(steps+1) rows. */
  def randomWalks(edges: DataFrame, steps: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select("src", "dst").loopCheckpoint(true)
    // round 16: both per-step joins probe on src — the window already
    // hash-partitions by src, so the checkpoints carry that claim and
    // the walk loop re-exchanges only the (tiny) frontier side
    val adj = e.select(col("src"), col("dst"),
        (row_number().over(Window.partitionBy("src").orderBy("dst")) - 1).as("idx"))
      .loopCheckpoint(true)
    val deg = adj.groupBy("src").agg(count(lit(1)).as("odeg")).loopCheckpoint(true)
    var cur = vertices(e)
      .select(col("id").as("walk_id"), lit(0).as("step"), col("id").as("v"))
      .loopCheckpoint(true)
    var out = cur
    for (t <- 1 to steps) {
      val pick = cur.join(deg, cur("v") === deg("src"))
        .select(col("walk_id"),
          pmod(graft.functions.Md5Hash32(
            concat_ws(":", col("walk_id"), lit(t)).cast("string")), col("odeg"))
            .as("pick"),
          col("v"))
      cur = pick.join(adj, pick("v") === adj("src") && pick("pick") === adj("idx"))
        .select(col("walk_id"), lit(t).as("step"), col("dst").as("v"))
        .loopCheckpoint(true)
      out = out.union(cur)
    }
    out.orderBy("walk_id", "step")
  }

  /** Oracle for [[randomWalks]]: the hop chain unrolled to the (fixed)
    * step count — every draw recomputed from the same md5 formula
    * ([[graft.operators.Sketch.hash32SqlExpr]]), same (dst asc)
    * neighbor ranking, same degree-first join shape. Fully static —
    * nothing Spark-derived at all. */
  def randomWalksSql(steps: Int = 6, m: Int = ProjMod): String = {
    val sb = new StringBuilder
    sb ++= s"WITH edges_g AS (${edgesSql(m)}),\n"
    sb ++= """adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
       |  FROM edges_g),
       |dg AS MATERIALIZED (SELECT src, count(*) AS odeg FROM adj GROUP BY src),
       |v AS (SELECT src AS id FROM edges_g UNION SELECT dst FROM edges_g),
       |w0 AS MATERIALIZED (SELECT id AS walk_id, 0 AS step, id AS v FROM v)""".stripMargin
    for (t <- 1 to steps) {
      val p = t - 1
      val h = graft.operators.Sketch.hash32SqlExpr(s"w.walk_id || ':' || $t")
      sb ++= s""",
         |w$t AS MATERIALIZED (
         |  SELECT w.walk_id, $t AS step, a.dst AS v
         |  FROM w$p w
         |  JOIN dg d ON d.src = w.v
         |  JOIN adj a ON a.src = w.v AND a.idx = $h % d.odeg)""".stripMargin
    }
    val un = (0 to steps).map(t => s"SELECT walk_id, step, v FROM w$t")
      .mkString("\n  UNION ALL ")
    sb ++= s"\nSELECT walk_id, step, v FROM (\n  $un\n) allw ORDER BY walk_id, step"
    sb.toString
  }

  // ---------------------------------------------------- label propagation

  /** Synchronous label propagation (the GraphFrames `labelPropagation`
    * shape, determinized): every vertex starts labeled with its own id;
    * each round every vertex adopts the most frequent label among its
    * neighbors over the symmetrized edge set, ties broken to the
    * smallest label. Fixed round count (the g2 fixed-iteration
    * contract) — sync rounds + a total tie order make the result exact,
    * unlike the asynchronous/randomized textbook variant.
    *
    * Scale shape per round: one equi-join of the (bounded) label table
    * against edges on dst, one partial-aggregated count on (vertex,
    * label), and one MAX-STRUCT hash aggregate for the per-vertex
    * argmax (map-side combinable, no per-vertex sort — struct order
    * encodes the (count desc, smallest label) tie chain). Labels are
    * bigints — the shuffle carries |E| rows of
    * three longs, never adjacency lists; lineage is cut per round like
    * every iterative loop here. Entirely integer arithmetic — no
    * cross-engine float concern at all. */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    // checkpoint the DIRECTED half once; symmetry and vertices derive from
    // the checkpoint so the caller's pipeline runs exactly once (the CC
    // round-12 pattern — the old shape evaluated `edges` three times)
    val ed = edges.select("src", "dst").loopCheckpoint(true)
    // round 16: the symmetric view is keyed on dst at the size-derived
    // width, so the |E|-carrying side of each round's join never
    // re-exchanges (see pageRank / connectedComponents)
    val np = math.max(1, Lineage.sizedParts(ed) * 2)
    val sym = Lineage.checkpoint(
      ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().repartition(np, col("dst")), eager = true)
    val lgen = Lineage.gen() // keep-2 label chain (see Lineage.Gen)
    var labels = lgen.roll(vertices(ed).select(col("id"), col("id").as("label")),
      true)
    for (_ <- 1 to rounds) {
      val cnt = sym.join(shj(labels, np), sym("dst") === labels("id"))
        .groupBy(sym("src").as("vid"), col("label"))
        .agg(count(lit(1)).as("n"))
      // most-frequent label, smallest on ties, as a MAX-STRUCT hash
      // aggregate (map-side combinable, no per-vertex sort) — struct
      // order (n DESC via max, then max(-label) = min label) encodes
      // exactly the old rank window; oracle keeps the window form
      val best = cnt
        .groupBy(col("vid").as("id"))
        .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("m"))
        .select(col("id"), (-col("m.neg")).as("best"))
      labels = lgen.roll(labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("best"), col("label")).as("label")),
        true)
    }
    labels.orderBy("id")
  }

  /** Oracle for [[labelPropagation]]: the same synchronous rounds
    * unrolled as CTEs (every round is re-derived independently by
    * DuckDB — nothing Spark-side feeds the oracle). */
  def labelPropagationSql(rounds: Int = 3, m: Int = ProjMod): String = {
    val sb = new StringBuilder
    sb ++= s"WITH edges_g AS (${edgesSql(m)}),\n"
    sb ++= "sym AS (SELECT src, dst FROM edges_g UNION SELECT dst AS src, src AS dst FROM edges_g),\n"
    sb ++= "r0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)"
    for (r <- 1 to rounds) {
      sb ++= s""",
         |cnt$r AS (
         |  SELECT e.src AS id, l.label, count(*) AS n
         |  FROM sym e JOIN r${r - 1} l ON l.id = e.dst GROUP BY e.src, l.label),
         |best$r AS (
         |  SELECT id, label FROM (
         |    SELECT id, label,
         |      row_number() OVER (PARTITION BY id ORDER BY n DESC, label ASC) AS rk
         |    FROM cnt$r) WHERE rk = 1),
         |r$r AS (
         |  SELECT p.id, COALESCE(b.label, p.label) AS label
         |  FROM r${r - 1} p LEFT JOIN best$r b ON b.id = p.id)""".stripMargin
    }
    sb ++= s"\nSELECT id, label FROM r$rounds ORDER BY id"
    sb.toString
  }

  // --------------------------------------------------------------- k-core

  /** Converged peel-round count per record key for [[kCore]] (see
    * [[Recorded]]). */
  private[graph] val kcoreRounds = new Recorded

  /** k-core decomposition membership: the maximal induced subgraph of
    * the symmetrized graph where every vertex has degree ≥ k, found by
    * iterative peeling — drop all vertices below degree k, recompute
    * degrees on the induced subgraph, repeat to fixpoint. Output is
    * (id, core_deg): the surviving vertices with their within-core
    * degree.
    *
    * Scale shape per round: two semi-joins restrict the edge list to
    * surviving endpoints (each an equi-join on one key), one count
    * aggregate rebuilds degrees; the vertex set only shrinks, so every
    * round costs less than the last. The peel count is recorded and the
    * oracle re-derives every round independently, capped at that count
    * (the g5 contract — only the stopping rule is Spark-derived). */
  def kCore(edges: DataFrame, k: Int = 10,
            recordKey: Option[String] = None): DataFrame = {
    // directed half checkpointed first — caller pipeline runs once
    val ed = edges.select("src", "dst").loopCheckpoint(true)
    val sym = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().loopCheckpoint(true)
    def degreesOf(e: DataFrame): DataFrame =
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val agen = Lineage.gen() // keep-2 alive-set chain (see Lineage.Gen)
    // round 17: counted rolls — the peel-gate counts ride the
    // materializations as observed metrics (no separate count jobs)
    val (alive0, n0) = agen.rollCounted(degreesOf(sym)
      .filter(col("deg") >= k).select("id"))
    var alive = alive0
    var n = n0
    var rounds = 1 // the initial filter is peel round 1
    var converged = false
    while (!converged) {
      val induced = sym
        .join(alive, sym("src") === alive("id"), "left_semi")
        .join(alive.withColumnRenamed("id", "id2"),
          col("dst") === col("id2"), "left_semi")
      val (next, m) = agen.rollCounted(degreesOf(induced)
        .filter(col("deg") >= k).select("id"))
      converged = m == n
      if (!converged) { alive = next; n = m; rounds += 1 }
    }
    kcoreRounds.record(recordKey, rounds)
    val core = sym
      .join(alive, sym("src") === alive("id"), "left_semi")
      .join(alive.withColumnRenamed("id", "id2"),
        col("dst") === col("id2"), "left_semi")
    degreesOf(core).withColumnRenamed("deg", "core_deg").orderBy("id")
  }

  /** Oracle for [[kCore]]: the peel rounds unrolled as CTEs to the
    * recorded count (fails loudly if g9 never recorded a run). */
  def kCoreSql(k: Int = 10, m: Int = ProjMod, key: Option[String] = None): String =
    kcoreRounds.oracle("g9", key) { r =>
      val sb = new StringBuilder
      sb ++= s"WITH edges_g AS (${edgesSql(m)}),\n"
      sb ++= "sym AS (SELECT src, dst FROM edges_g UNION SELECT dst AS src, src AS dst FROM edges_g),\n"
      sb ++= s"a1 AS (SELECT src AS id FROM sym GROUP BY src HAVING count(*) >= $k)"
      for (i <- 2 to r) {
        sb ++= s""",
           |a$i AS (
           |  SELECT e.src AS id FROM sym e
           |  JOIN a${i - 1} x ON e.src = x.id JOIN a${i - 1} y ON e.dst = y.id
           |  GROUP BY e.src HAVING count(*) >= $k)""".stripMargin
      }
      sb ++= s"""
         |SELECT e.src AS id, count(*) AS core_deg FROM sym e
         |JOIN a$r x ON e.src = x.id JOIN a$r y ON e.dst = y.id
         |GROUP BY e.src ORDER BY id""".stripMargin
      sb.toString
    }

  // -------------------------------------------------------------- registry

  /** Edge list memoized per (session, sf-dir): every graph query walks
    * the same graph, so the orders scan + distinct runs once
    * ([[graft.plans.Materialized]]). */
  def cachedEdges(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"graph_edges:${Tables.norm(dir)}")(
      edgesFromOrders(s, dir))

  /** Landmark BFS distances memoized per (session, sf-dir) — g7's
    * output and g20's input (one BFS serves both; the recorded round
    * count feeds both oracles, identical by determinism). */
  def cachedPaths(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"graph_paths:${Tables.norm(dir)}")(
      shortestPaths(cachedEdges(s, dir), landmarks = Seq(0L, 1L, 2L, 3L, 4L),
        recordKey = Some(Tables.norm(dir))))

  /** Component labels memoized per (session, sf-dir) — g3's output and
    * g6's input. */
  def cachedComponents(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"graph_cc:${Tables.norm(dir)}")(
      connectedComponents(cachedEdges(s, dir)))

  /** SCC labels memoized per (session, sf-dir) — g22's output and g23's
    * input (|V| rows; one FW-BW run serves both). */
  def cachedScc(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"graph_scc:${Tables.norm(dir)}")(
      stronglyConnectedComponents(cachedEdges(s, dir)))

  /** Per-vertex triangle counts memoized per (session, sf-dir) — g4's
    * output and g10's input (|V| rows, safely small). */
  def cachedTriangles(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"graph_tri:${Tables.norm(dir)}")(
      triangleCounts(cachedEdges(s, dir)))

  // ------------------------------------------------------- co-visitation

  /** Item co-visitation graph from the event stream — the bipartite
    * (user, item) projection that seeds "users who viewed X also viewed
    * Y" recommenders and item-similarity graphs. Items are `props.k`
    * (the event payload's item key); each user's distinct item set is
    * CAPPED at the `cap` most-visited items (ties (visits desc, item
    * asc) — total order) before the pair join, because the per-user
    * pair count is quadratic: one bot user with 10⁵ items would emit
    * 5·10⁹ pairs uncapped, while the cap bounds every user at
    * cap·(cap−1)/2 — the standard guard that makes co-occurrence
    * projections survive power-law users at 100 TB. The capped set is
    * localCheckpoint'd (self-join input — the NOTES double-execution
    * rule), the pair join is an equi-join on user_id with the canonical
    * `item_a < item_b` predicate, and the final top-k is
    * orderBy+limit → TakeOrderedAndProject (no global sort). */
  /** The capped per-user item set (cold path — callers must checkpoint
    * before self-joining; the memoized wrappers do). */
  def covisitKeptFrom(events: DataFrame, cap: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("n_visits"), asc("item"))
    events
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
      .groupBy("user_id", "item").agg(count(lit(1)).as("n_visits"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select("user_id", "item")
  }

  /** Canonical (item_a < item_b) pair counts over a (checkpointed)
    * capped item set (cold path). */
  def covisitPairsFrom(kept: DataFrame): DataFrame = {
    val a = kept.select(col("user_id"), col("item").as("item_a"))
    val b = kept.select(col("user_id"), col("item").as("item_b"))
    a.join(b, Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_users"))
  }

  /** Capped item set / pair counts memoized per (session, sf-dir): g12
    * ranks the pairs, g13 normalizes them to Jaccard — one event scan
    * and one pair join serve both ([[graft.plans.Materialized]]; both
    * frames are bounded — ≤ users·cap and ≤ items²/2 rows). */
  private def cachedCovisitKept(s: SparkSession, dir: String, cap: Int): DataFrame =
    graft.plans.Materialized(s, s"covisit_kept:${Tables.norm(dir)}:$cap")(
      covisitKeptFrom(Tables.events(s, dir), cap))

  private def cachedCovisitPairs(s: SparkSession, dir: String, cap: Int): DataFrame =
    graft.plans.Materialized(s, s"covisit_pairs:${Tables.norm(dir)}:$cap")(
      covisitPairsFrom(cachedCovisitKept(s, dir, cap)))

  def covisitation(spark: SparkSession, dir: String,
                   cap: Int = 16, topK: Int = 20): DataFrame =
    cachedCovisitPairs(spark, dir, cap)
      .orderBy(desc("n_users"), asc("item_a"), asc("item_b"))
      .limit(topK)

  /** Item-item Jaccard similarity over the co-visitation pairs — the
    * normalized edge weight a recommender actually ranks by
    * (co-count alone just surfaces popular items): |A∩B| / |A∪B| where
    * A, B are the CAPPED per-item user sets, so numerator and
    * denominator come from the same universe. Per-item user counts and
    * the pair frame both reuse the g12 memos; the count join is a
    * broadcast (|items| rows); output is the top-k by similarity with
    * full tie order. Division is one IEEE op over exact counts through
    * the standard round→DECIMAL cast; n_users ≥ 1 keeps the
    * denominator positive. */
  def itemJaccard(spark: SparkSession, dir: String,
                  cap: Int = 16, topK: Int = 20): DataFrame = {
    val counts = cachedCovisitKept(spark, dir, cap)
      .groupBy("item").agg(count(lit(1)).as("nu"))
    itemJaccardFrom(cachedCovisitPairs(spark, dir, cap), counts, topK)
  }

  /** Cold-path Jaccard assembly (shared by [[itemJaccard]] and specs). */
  def itemJaccardFrom(pairs: DataFrame, counts: DataFrame, topK: Int): DataFrame =
    pairs
      .join(broadcast(counts.select(col("item").as("item_a"), col("nu").as("n_a"))), "item_a")
      .join(broadcast(counts.select(col("item").as("item_b"), col("nu").as("n_b"))), "item_b")
      .select(col("item_a"), col("item_b"), col("n_users"),
        round(col("n_users").cast("double") / (col("n_a") + col("n_b") - col("n_users")), 6)
          .cast(DecimalType(18, 6)).as("jaccard"))
      .orderBy(desc("jaccard"), asc("item_a"), asc("item_b"))
      .limit(topK)

  /** Shared CTE prefix (ui → kept → pairs) for the co-visitation oracles
    * — must mirror [[covisitKeptFrom]]/[[covisitPairsFrom]] exactly. */
  private def covisitCteSql(cap: Int): String =
    s"""ui AS (
       |  SELECT user_id, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         count(*) AS n_visits
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |  GROUP BY 1, 2),
       |kept AS (
       |  SELECT user_id, item FROM (
       |    SELECT user_id, item,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY n_visits DESC, item ASC) AS rk
       |    FROM ui) WHERE rk <= $cap),
       |pairs AS (
       |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_users
       |  FROM kept a JOIN kept b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2)""".stripMargin

  def covisitationSql(cap: Int = 16, topK: Int = 20): String =
    s"""WITH ${covisitCteSql(cap)}
       |SELECT item_a, item_b, n_users FROM pairs
       |ORDER BY n_users DESC, item_a ASC, item_b ASC LIMIT $topK""".stripMargin

  def itemJaccardSql(cap: Int = 16, topK: Int = 20): String =
    s"""WITH ${covisitCteSql(cap)},
       |counts AS (SELECT item, count(*) AS nu FROM kept GROUP BY item)
       |SELECT p.item_a, p.item_b, p.n_users,
       |  CAST(round(CAST(p.n_users AS DOUBLE) / (a.nu + b.nu - p.n_users), 6)
       |       AS DECIMAL(18,6)) AS jaccard
       |FROM pairs p JOIN counts a ON p.item_a = a.item
       |             JOIN counts b ON p.item_b = b.item
       |ORDER BY jaccard DESC, item_a ASC, item_b ASC LIMIT $topK""".stripMargin

  // ------------------------------------------------------------------ HITS

  /** g14: HITS hubs-and-authorities (Kleinberg) — the link-analysis
    * complement to PageRank (ref EpinionsGraphFrameAnalysis.scala:93
    * runs only PageRank; HITS is the other classic the same edge list
    * supports). Fixed-iteration mutual recursion: auth ← Σ hub over
    * in-edges, hub ← Σ auth over out-edges, each side L1-normalized per
    * half-step (sum-normalization keeps everything in exact decimal
    * sums; the usual L2 norm would need a cross-engine sqrt).
    *
    * Scale/determinism shape is [[pageRank]]'s: the edge list is
    * checkpointed once and reused every round, per-edge contributions
    * are decimal-quantized before the shuffle-sum (order-independent),
    * the normalizing total is a broadcast 1-row frame (never a driver
    * action), and each round ends in an eager localCheckpoint so
    * lineage stays flat. The normalized scores are double ratios of
    * exact decimal sums — one IEEE division, identical on both
    * engines. */
  def hits(edges: DataFrame, iterations: Int = 4): DataFrame = {
    // keyed loop entry (round 16, see [[pageRank]]); HITS probes the
    // edge list on BOTH endpoints, so it keeps a src-keyed and a
    // dst-keyed copy (at np == 1 they are the same frame — free; at
    // cluster scale two one-time shuffles replace 2 per round)
    val (eSrc, np) = keyedEntry(edges.select("src", "dst"), "src")
    val eDst =
      if (np <= 1) eSrc
      else Lineage.checkpoint(eSrc.repartition(np, col("dst")), eager = true)
    val v = keyedVertices(eSrc, np).loopCheckpoint(true)
    val agen = Lineage.gen() // keep-2 chains (see Lineage.Gen): auth-raw…
    val hgen = Lineage.gen() // …and hub-raw half-step aggregates
    // Round 17 (guide §1.2/§2.4 — the VERDICT r16 "HITS normalizer
    // floor" item): each half-step is ONE materialization, the raw mass
    // aggregate. The L1 normalization auth = araw/Σaraw is fused into
    // the NEXT half-step's edge join — the division happens per edge
    // contribution where it is consumed, instead of materializing a
    // |V|-row normalized frame per half-step (previously 4
    // checkpoints + 2 broadcasts per iteration; now 2 checkpoints, and
    // the full-|V| normalized frames are built exactly once, at the
    // output boundary). Equivalence with the unrolled oracle: a vertex
    // absent from araw has auth exactly 0, so its edges contribute
    // CAST(0.0 AS DECIMAL) to the next decimal sum — dropping those
    // rows (inner join on the raw aggregate instead of the |V| frame)
    // changes no sum, and the final left-join restores the 0-score
    // vertices. The per-edge quantization CAST(araw/s AS DECIMAL(32,16))
    // is the identical expression the normalized frame carried.
    //
    // Normalizer transport: at np == 1 the half-step aggregate is a
    // claimed SinglePartition frame, so Σ is attached IN THE SAME
    // materialization as a grand-total window column — no per-half-step
    // broadcast job at all (8 jobs/run saved). At np > 1 an
    // unpartitioned window would collapse the aggregate to one
    // partition, so the sum travels as the usual 1-row broadcast
    // (scale-safe; the window shortcut is size-derived via np, not a
    // local-mode constant).
    val W = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    def withTotal(agg: DataFrame, valueCol: String): DataFrame =
      if (np <= 1) agg.withColumn("s", sum(col(valueCol)).over(W))
      else agg
    def attachTotal(agg: DataFrame): DataFrame =
      if (np <= 1) agg
      else agg.crossJoin(broadcast(agg.agg(sum(agg.columns(1)).as("s"))))
    var araw: DataFrame = null
    var hraw: DataFrame = null
    for (i <- 1 to iterations) {
      // normalized contribution, computed per VERTEX on the (small)
      // build side — the per-edge work after the join is only the hash
      // probe and the decimal sum, not |E| divisions/decimal casts
      def normalized(raw: DataFrame, key: String, value: String): DataFrame =
        attachTotal(raw).select(col(key),
          (col(value).cast("double") / col("s").cast("double"))
            .cast(Dec).as("c"))
      val aContrib =
        if (i == 1) eSrc.select(col("dst"), lit(1.0).cast(Dec).as("c"))
        else eSrc.join(shj(normalized(hraw, "src", "hraw"), np),
            Seq("src"))
          .select(col("dst"), col("c"))
      araw = agen.roll(withTotal(maybeRekey(aContrib, np, "dst")
        .groupBy("dst").agg(sum("c").as("araw")), "araw"), true)
      val hContrib = eDst.join(shj(normalized(araw, "dst", "araw"), np),
          Seq("dst"))
        .select(col("src"), col("c"))
      hraw = hgen.roll(withTotal(maybeRekey(hContrib, np, "src")
        .groupBy("src").agg(sum("c").as("hraw")), "hraw"), true)
    }
    // output boundary: rebuild the full-|V| normalized frames once
    val asum = araw.agg(sum("araw").as("s"))
    val hsum = hraw.agg(sum("hraw").as("s"))
    val auth = v.join(shj(araw.select(col("dst").as("id"), col("araw")), np),
      Seq("id"), "left_outer")
      .crossJoin(broadcast(asum))
      .select(col("id"),
        (coalesce(col("araw"), lit(0).cast(Dec)).cast("double") /
          col("s").cast("double")).as("auth"))
    val hub = v.join(shj(hraw.select(col("src").as("id"), col("hraw")), np),
      Seq("id"), "left_outer")
      .crossJoin(broadcast(hsum))
      .select(col("id"),
        (coalesce(col("hraw"), lit(0).cast(Dec)).cast("double") /
          col("s").cast("double")).as("hub"))
    auth.join(hub, "id")
      .select(col("id"), round(col("auth"), 12).as("auth"),
        round(col("hub"), 12).as("hub"))
      .orderBy("id")
  }

  /** Oracle for [[hits]]: iterations unrolled as CTE pairs, mirroring
    * the decimal-sum / double-division dance exactly (the [[pageRankSql]]
    * pattern). */
  def hitsSql(iterations: Int = 4, m: Int = ProjMod): String = {
    val base =
      s"""WITH edges_g AS (${edgesSql(m)}),
         |v AS (SELECT src AS id FROM edges_g UNION SELECT dst FROM edges_g),
         |hub0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM v)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""ar$i AS (
         |  SELECT e.dst, SUM(CAST(h.hub AS DECIMAL(32,16))) AS araw
         |  FROM edges_g e JOIN hub${i - 1} h ON e.src = h.id GROUP BY e.dst),
         |as$i AS (SELECT SUM(araw) AS s FROM ar$i),
         |auth$i AS (
         |  SELECT v.id,
         |    CAST(COALESCE(r.araw, 0) AS DOUBLE) / CAST(t.s AS DOUBLE) AS auth
         |  FROM v CROSS JOIN as$i t LEFT JOIN ar$i r ON v.id = r.dst),
         |hr$i AS (
         |  SELECT e.src, SUM(CAST(a.auth AS DECIMAL(32,16))) AS hraw
         |  FROM edges_g e JOIN auth$i a ON e.dst = a.id GROUP BY e.src),
         |hs$i AS (SELECT SUM(hraw) AS s FROM hr$i),
         |hub$i AS (
         |  SELECT v.id,
         |    CAST(COALESCE(r.hraw, 0) AS DOUBLE) / CAST(t.s AS DOUBLE) AS hub
         |  FROM v CROSS JOIN hs$i t LEFT JOIN hr$i r ON v.id = r.src)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT a.id, round(a.auth, 12) AS auth, round(h.hub, 12) AS hub
       |FROM auth$iterations a JOIN hub$iterations h ON a.id = h.id
       |ORDER BY a.id""".stripMargin
  }

  // -------------------------------------------------------- assortativity

  /** g15: directed degree assortativity — the Pearson correlation
    * between out-degree(src) and in-degree(dst) across edges (Newman's
    * r). One number says whether hubs link to hubs (r > 0, social-graph
    * shape) or hubs link to leaves (r < 0, web/infrastructure shape) —
    * the quick structural fingerprint before choosing skew strategies
    * for the heavier graph jobs.
    *
    * Shape: two degree aggregates joined back to the edge list, then a
    * single 6-sum moment aggregate (map-side combinable). The per-edge
    * degree products are exact BIGINT sums (degrees are bounded by the
    * densest vertex, so Σxy fits long well past sf1); the closed-form r
    * is assembled in doubles with mirrored association — the exact
    * sums make each cast identical, the IEEE ops keep the bytes
    * identical (q40's discipline, minus the decimal quantization that
    * integer inputs don't need). */
  def assortativity(edges: DataFrame): DataFrame = {
    val outD = edges.groupBy("src").agg(count(lit(1)).as("x"))
    val inD = edges.groupBy("dst").agg(count(lit(1)).as("y"))
    val s = edges.join(outD, "src").join(inD, "dst")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    // products of the (exact) sums in DOUBLE: at web scale n·Σxy
    // overflows BIGINT (ANSI would throw); double keeps determinism —
    // both engines round the same exact-integer factors the same way
    val d = s.select(col("n"),
      (col("n").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")).as("num"),
      ((col("n").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) *
        (col("n").cast("double") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double"))).as("den"))
    d.select(col("n").as("n_edges"),
      when(col("den") > 0, round(col("num") / sqrt(col("den")), 6))
        .otherwise(lit(0.0)).cast(DecimalType(18, 6)).as("r"))
  }

  def assortativitySql(m: Int = ProjMod): String =
    s"""WITH edges_g AS (${edgesSql(m)}),
       |outd AS (SELECT src, count(*) AS x FROM edges_g GROUP BY src),
       |ind AS (SELECT dst, count(*) AS y FROM edges_g GROUP BY dst),
       |s AS (
       |  SELECT count(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM edges_g e JOIN outd USING (src) JOIN ind USING (dst)
       |), d AS (
       |  SELECT n,
       |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
       |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den
       |  FROM s
       |)
       |SELECT CAST(n AS BIGINT) AS n_edges,
       |  CAST(CASE WHEN den > 0 THEN round(num / sqrt(den), 6) ELSE 0.0 END AS DECIMAL(18,6)) AS r
       |FROM d""".stripMargin

  // --------------------------------------------------------- reciprocity

  /** g16: edge reciprocity — the fraction of directed edges (u,v) whose
    * reverse (v,u) also exists. With g15's assortativity it completes
    * the one-row structural fingerprint pair (mutual-link density vs
    * hub-to-hub mixing) that guides skew strategy for the heavier
    * graph jobs.
    *
    * Shape: one semi-join of the edge list against its own reversal —
    * a single shuffle on (src, dst), map-side combinable counts, two
    * 1-row aggregates attached via the broadcast crossJoin idiom. At
    * any corpus scale the output is one row and the only wide exchange
    * is the self-semi-join on the composite key. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    val recip = edges.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_recip"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip))
      .select(col("n_edges"), col("n_recip"),
        when(col("n_edges") > 0,
          round(col("n_recip").cast("double") / col("n_edges"), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)).as("reciprocity"))
  }

  def reciprocitySql(m: Int = ProjMod): String =
    s"""WITH edges_g AS (${edgesSql(m)}),
       |r AS (
       |  SELECT count(*) AS n_recip FROM edges_g e
       |  WHERE EXISTS (SELECT 1 FROM edges_g x
       |                WHERE x.src = e.dst AND x.dst = e.src)
       |), t AS (SELECT count(*) AS n_edges FROM edges_g)
       |SELECT CAST(n_edges AS BIGINT) AS n_edges,
       |  CAST(n_recip AS BIGINT) AS n_recip,
       |  CAST(CASE WHEN n_edges > 0
       |    THEN round(CAST(n_recip AS DOUBLE) / n_edges, 6)
       |    ELSE 0.0 END AS DECIMAL(18,6)) AS reciprocity
       |FROM t, r""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("g1_degrees", (s, dir) => degrees(cachedEdges(s, dir)).orderBy("id"), () =>
      s"""WITH edges_g AS (${edgesSql()}),
         |outd AS (SELECT src AS id, count(*) AS out_deg FROM edges_g GROUP BY src),
         |ind AS (SELECT dst AS id, count(*) AS in_deg FROM edges_g GROUP BY dst)
         |SELECT id, COALESCE(out_deg, 0) AS out_deg, COALESCE(in_deg, 0) AS in_deg
         |FROM outd FULL OUTER JOIN ind USING (id) ORDER BY id""".stripMargin),
    QuerySpec("g2_pagerank", (s, dir) =>
      pageRank(cachedEdges(s, dir), iterations = 3).orderBy("id"),
      () => pageRankSql(iterations = 3)),
    QuerySpec("g3_connected_components", (s, dir) => cachedComponents(s, dir).orderBy("id"),
      () => connectedComponentsSql()),
    QuerySpec("g4_triangle_counts", (s, dir) => cachedTriangles(s, dir).orderBy("id"),
      () => triangleCountsSql()),
    // oracle built after the query runs: unrolls the
    // converged iteration count recorded by pageRankTol
    QuerySpec("g5_pagerank_tol", (s, dir) =>
      pageRankTol(cachedEdges(s, dir),
        recordKey = Some(Tables.norm(dir))).orderBy("id"),
      () => pageRankTolSql()),
    QuerySpec("g6_community_sizes", (s, dir) => communitySizesFromLabels(cachedComponents(s, dir)),
      () => communitySizesSql()),
    // oracle built after the query runs: caps the recursive
    // walk at the round count recorded by shortestPaths
    QuerySpec("g7_shortest_paths", (s, dir) => cachedPaths(s, dir).orderBy("landmark", "id"),
      () => shortestPathsSql(Seq(0L, 1L, 2L, 3L, 4L))),
    QuerySpec("g20_distance_histogram", (s, dir) => distanceHistogram(cachedPaths(s, dir)),
      () => distanceHistogramSql(Seq(0L, 1L, 2L, 3L, 4L))),
    QuerySpec("g21_harmonic_centrality", (s, dir) => harmonicCentrality(cachedPaths(s, dir)),
      () => harmonicCentralitySql(Seq(0L, 1L, 2L, 3L, 4L))),
    QuerySpec("g8_label_propagation", (s, dir) => labelPropagation(cachedEdges(s, dir)),
      () => labelPropagationSql()),
    // built after the queries run: unrolls the recorded peel count
    QuerySpec("g9_kcore", (s, dir) =>
      kCore(cachedEdges(s, dir), recordKey = Some(Tables.norm(dir))),
      () => kCoreSql()),
    QuerySpec("g10_clustering_coeff", (s, dir) =>
      clusteringCoeff(cachedEdges(s, dir), cachedTriangles(s, dir)),
      () => clusteringCoeffSql(), Seq("coeff")),
    QuerySpec("g11_personalized_pagerank", (s, dir) =>
      personalizedPageRank(cachedEdges(s, dir), sources = Seq(0L, 1L, 2L)),
      () => personalizedPageRankSql(Seq(0L, 1L, 2L))),
    QuerySpec("g12_covisitation", (s, dir) => covisitation(s, dir), () => covisitationSql()),
    QuerySpec("g13_item_jaccard", (s, dir) => itemJaccard(s, dir),
      () => itemJaccardSql(), Seq("jaccard")),
    QuerySpec("g14_hits", (s, dir) => hits(cachedEdges(s, dir)), () => hitsSql()),
    QuerySpec("g15_assortativity", (s, dir) => assortativity(cachedEdges(s, dir)),
      () => assortativitySql(), Seq("r")),
    QuerySpec("g16_reciprocity", (s, dir) => reciprocity(cachedEdges(s, dir)),
      () => reciprocitySql(), Seq("reciprocity")),
    QuerySpec("g17_adamic_adar", (s, dir) => adamicAdar(cachedEdges(s, dir)),
      () => adamicAdarSql(), Seq("aa")),
    QuerySpec("g18_degree_powerlaw", (s, dir) => degreePowerlaw(cachedEdges(s, dir)),
      () => degreePowerlawSql(), Seq("slope", "intercept")),
    QuerySpec("g22_scc", (s, dir) => cachedScc(s, dir).orderBy("id"), () => sccSql()),
    QuerySpec("g23_condensation_levels", (s, dir) =>
      condensationLevels(cachedEdges(s, dir), cachedScc(s, dir)),
      () => condensationLevelsSql()),
    QuerySpec("g24_modularity", (s, dir) =>
      modularity(cachedEdges(s, dir), cachedComponents(s, dir)),
      () => modularitySql(), Seq("q_contrib")),
    QuerySpec("g19_pagerank_dangling", (s, dir) =>
      pageRankDangling(cachedEdges(s, dir), iterations = 3).orderBy("id"),
      () => pageRankDanglingSql(iterations = 3)),
    // denser mod-500 projection: the mod-2000 gate graph is too
    // triangle-sparse to cascade (its 3-truss converges in one peel);
    // m=500 at sf0.01 peels 6 rounds with a 13k-edge surviving truss;
    // the oracle, built after the query runs, unrolls the recorded peel count
    QuerySpec("g25_ktruss", (s, dir) =>
      kTruss(edgesFromOrders(s, dir, m = TrussProjMod), k = 5,
        recordKey = Some(Tables.norm(dir))),
      () => kTrussSql(k = 5, m = TrussProjMod)),
    // built after the queries run: unrolls the recorded wave count
    QuerySpec("g26_weighted_sssp", (s, dir) =>
      weightedSssp(weightedEdges(cachedEdges(s, dir)),
        landmarks = Seq(0L, 1L, 2L, 3L, 4L),
        recordKey = Some(Tables.norm(dir))),
      () => weightedSsspSql(Seq(0L, 1L, 2L, 3L, 4L))),
    // built after the queries run: unrolls the recorded level count
    QuerySpec("g27_betweenness", (s, dir) =>
      betweenness(cachedEdges(s, dir), pivots = Seq(0L, 1L, 2L, 3L, 4L),
        recordKey = Some(Tables.norm(dir))),
      () => betweennessSql(Seq(0L, 1L, 2L, 3L, 4L)), Seq("btw")),
    QuerySpec("g28_random_walks", (s, dir) => randomWalks(cachedEdges(s, dir)),
      () => randomWalksSql()),
    QuerySpec("g29_louvain", (s, dir) => louvain(cachedEdges(s, dir)), () => louvainSql()),
  )
}
