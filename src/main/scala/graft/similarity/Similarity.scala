package graft.similarity

import graft.plans.Lineage.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Exact16, VectorDotExact}
import graft.sources.Tables

/** Similarity search over embedding columns (builder brief: ANN over
  * `Array[Float]` — brute-force cosine top-k as the baseline, an
  * LSH-bucketed variant as the scale path).
  *
  * Execution shape: every dot product / norm / hyperplane projection is
  * a PER-ROW array expression (`zip_with` + `aggregate`) — the 64-float
  * vector never explodes into rows and never shuffles element-wise. The
  * only shuffles are the candidate equi-joins on (table, bucket) and the
  * final TakeOrdered top-k. At 5k vectors this is ~10× cheaper than the
  * explode+groupBy formulation (measured via graft.Bench); at 1B vectors
  * it is the difference between shuffling 64B rows and shuffling none.
  *
  * Cross-engine determinism: element products are computed in double
  * (exact: float→double is exact, double multiply is IEEE-deterministic)
  * then quantized to DECIMAL(32,16) and summed exactly — the fold order
  * cannot change the result, so Spark's sequential `aggregate` equals
  * DuckDB's hash-aggregate SUM bit-for-bit. Hyperplane weights are an
  * integer LCG — w = ((1103515245·idx + 12345) mod 2²¹)/2²¹ − ½, idx =
  * (table·P + plane)·Dims + dim — exact dyadic doubles, reproducible in
  * SQL (`rand()` would not be).
  */
object Similarity {
  private val Dec = DecimalType(32, 16)
  private val DecAcc = DecimalType(38, 16)
  // hashed-output type for similarity scores: the rounded 6-dp value is
  // exactly representable as DECIMAL(18,6), so both engines emit
  // identical bytes — a trailing DOUBLE would hash engine-specific bit
  // patterns below 10 significant digits (VERDICT r4, the m3 class)
  private val Out6 = DecimalType(18, 6)
  private val Dims = 64

  /** Exact decimal-quantized sum of element products — the deterministic
    * dot-product kernel shared by every operator here. Backed by the
    * codegen'd [[VectorDotExact]] expression; `dotColBuiltin` is the
    * pure-built-in formulation with identical semantics (kept as the
    * equivalence oracle in SimilaritySpec). */
  private def dotCol(a: Column, b: Column): Column = VectorDotExact(a, b)

  private[similarity] def dotColBuiltin(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(Dec)),
      lit(0).cast(DecAcc),
      (acc, x) => (acc + x).cast(DecAcc))
      .cast("double")

  private def norm2Col(e: Column): Column = dotCol(e, e)

  /** Spread a vector frame across the session's full parallelism before
    * an exact-dot-heavy stage. The gate-scale parquet files are
    * single-row-group (scan = 1 task), which serializes exact-decimal
    * kernels onto one thread; this tiny shuffle (the corpus frames are
    * sub-MB at gate SFs, and at production scale the scan is already
    * many-partition so the no-op cost is one hash exchange) unlocks the
    * full compute width — measured 8× on the s20 fit while the exact dot
    * still allocated BigDecimals per element, and not re-measured since
    * [[Exact16]] made it allocation-free. Only for decimal-
    * kernel stages: NOTES round-11 records the negative result for
    * cheap text expressions. Results are partitioning-independent
    * throughout the engine. Width-gated (ADVICE r11): when the scan is
    * already at session parallelism — the production regime — this is a
    * no-op, not an extra exchange. */
  private def spread(df: DataFrame): DataFrame =
    graft.operators.Layout.spreadIfNarrow(df)

  /** Per-vector squared norm (kept for callers/tests). */
  def norms(emb: DataFrame): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    emb.select(col("vec_id"), norm2Col(col("embedding")).as("norm2"))
  }

  /** Brute-force cosine top-k for one query vector: broadcast the single
    * query row, per-row dot+norm, TakeOrdered — zero wide shuffles. */
  def knnBrute(emb: DataFrame, queryId: Long, k: Int = 10): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  def knnBruteSql(queryId: Long, k: Int = 10): String =
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), q AS (SELECT d, x AS qx FROM ex WHERE vec_id = $queryId),
       |qn AS (SELECT norm2 AS qnorm2 FROM norms WHERE vec_id = $queryId),
       |dots AS (
       |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN q USING (d) WHERE ex.vec_id != $queryId GROUP BY ex.vec_id
       |)
       |SELECT d.vec_id, CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |FROM dots d JOIN norms n USING (vec_id) CROSS JOIN qn
       |ORDER BY cos DESC, vec_id ASC LIMIT $k""".stripMargin

  /** s23: Maximal-Marginal-Relevance diversified re-rank (Carbonell/
    * Goldstein MMR) — greedy selection of k results from the brute-
    * cosine top-n shortlist, each pick maximizing
    *
    *   mmr(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)
    *
    * (rel = cosine to the query, sim = pairwise candidate cosine, both
    * 6-dp exact decimals from the [[VectorDotExact]] kernel; the max
    * over the selected set S is a max over exact decimals; mmr itself
    * is one IEEE-identical double expression rounded back to
    * DECIMAL(18,6) before the argmax, ties broken asc vec_id — so the
    * greedy trajectory is bit-reproducible cross-engine).
    *
    * Scale shape: ONLY the shortlist pass touches the corpus (the s1
    * plan: broadcast query row, codegen'd dot, TakeOrdered). Everything
    * after is metadata-sized regardless of corpus scale: n candidates,
    * one n²-row pairwise-sim frame, k greedy steps each an argmax over
    * ≤ n rows (the per-step 1-row read is the pageRankTol convergence-
    * read pattern — a bounded driver action on an n-row frame, never a
    * corpus collect). At 100 TB the shortlist generator swaps for any
    * ANN path (s2/s4/s19) unchanged — MMR only ever sees n rows.
    *
    * The oracle twin unrolls the same greedy loop into k literal CTE
    * stages (k is a query constant), so DuckDB replays the identical
    * trajectory without recursive-CTE semantics in the comparison
    * path. */
  /** s24: int8 scalar quantization (SQ8) with a recall gate — the
    * standard 4× compression for billion-scale vector stores (Faiss
    * SQ8 / Milvus SQ8 semantics): each vector quantizes to 64 int8
    * codes against its own max-abs scale, candidate scoring becomes an
    * INTEGER dot product over the codes (normalized by the integer code
    * norms — the per-vector scales cancel out of the cosine up to
    * quantization error), and the query reports recall@k of the
    * quantized ranking against the exact-decimal full-precision ranking
    * (the s14 pattern: compression is only admissible with its recall
    * measured, never assumed).
    *
    * Determinism: the quantizer is floor(x·127/m + 0.5) — half-up BY
    * CONSTRUCTION from floor, which both engines define identically on
    * doubles (an engine-native round() or int cast here would split
    * repr-vs-value ties and rounding modes — the q88 lesson); all-zero
    * vectors quantize to zero codes via the m = 0 guard and score 0.
    * Code dots and code norms are exact INTEGER sums —
    * order-independent with no decimal quantization needed at all; only
    * the final normalized score and recall take the one-double-division
    * round→DECIMAL path. Both rankings tie-break (score desc, id asc).
    *
    * 100 TB shape: quantization is one embarrassingly-parallel scan
    * (the artifact a production store persists — 68 B/vector instead of
    * 256 B); scoring runs on the codes through the same broadcast-
    * query + bounded [[graft.search.Rank.topKPerQueryAgg]] plan as the
    * full-precision path, so reducer state stays O(k·queries). The
    * exact side exists for the GATE; production serves the quantized
    * side only. */
  def sq8Recall(emb: DataFrame, queryIds: Seq[Long] = Seq(0L, 1L, 2L),
                k: Int = 10): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val m = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val qvExpr = transform(col("embedding"), x =>
      when(col("m") === 0.0d, lit(0L))
        .otherwise(floor(x.cast("double") * lit(127.0d) / col("m") + lit(0.5d))
          .cast("long")))
    val quant = spread(emb) // parquet arrives 1-2 partitions; widen the kernels
      .withColumn("m", m)
      .select(col("vec_id"), col("embedding"), qvExpr.as("qv"))
      .withColumn("qn",
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x))
      .loopCheckpoint(true) // corpus scanned once; both rankings reuse
    val probes = quant.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("qv").as("qqv"), col("qn").as("qqn"),
        norm2Col(col("embedding")).as("qnorm2"))
    val cands = quant.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
    val idot = aggregate(zip_with(col("qv"), col("qqv"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val quantTop = graft.search.Rank.topKPerQueryAgg(
      cands.select(col("qid"), col("vec_id").as("doc_id"),
        when(col("qn") === 0L || col("qqn") === 0L, lit(java.math.BigDecimal.ZERO).cast(Out6))
          .otherwise(round(idot.cast("double") /
            (sqrt(col("qn").cast("double")) * sqrt(col("qqn").cast("double"))), 6)
            .cast(Out6)).as("score")), k)
    val exactTop = graft.search.Rank.topKPerQueryAgg(
      cands.select(col("qid"), col("vec_id").as("doc_id"),
        when(norm2Col(col("embedding")) === 0 || col("qnorm2") === 0,
            lit(java.math.BigDecimal.ZERO).cast(Out6))
          .otherwise(round(dotCol(col("embedding"), col("qe")) /
            (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
            .cast(Out6)).as("score")), k)
    exactTop.select(col("qid"), col("doc_id"))
      .join(quantTop.select(col("qid"), col("doc_id"), lit(1L).as("hit")),
        Seq("qid", "doc_id"), "left_outer")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_overlap"))
      .select(col("qid"), col("n_overlap"),
        round(col("n_overlap").cast("double") / k, 6).cast(Out6).as("recall"))
      .orderBy("qid")
  }

  def sq8RecallSql(queryIds: Seq[Long] = Seq(0L, 1L, 2L), k: Int = 10): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), mm AS (
       |  SELECT vec_id, MAX(abs(x)) AS m FROM ex GROUP BY vec_id
       |), qx AS (
       |  SELECT e.vec_id, e.d,
       |    CASE WHEN mm.m = 0 THEN 0
       |         ELSE CAST(floor(e.x * 127.0 / mm.m + 0.5) AS BIGINT) END AS qx
       |  FROM ex e JOIN mm USING (vec_id)
       |), qnorm AS (
       |  SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS qn FROM qx GROUP BY vec_id
       |), idots AS (
       |  SELECT q.qid, c.vec_id, CAST(SUM(c.qx * q.qqx) AS BIGINT) AS idot
       |  FROM qx c JOIN (SELECT vec_id AS qid, d, qx AS qqx FROM qx
       |                  WHERE vec_id IN ($ids)) q USING (d)
       |  WHERE c.vec_id <> q.qid GROUP BY 1, 2
       |), qcos AS (
       |  SELECT i.qid, i.vec_id,
       |    CASE WHEN n.qn = 0 OR s.qn = 0 THEN CAST(0 AS DECIMAL(18,6))
       |         ELSE CAST(round(CAST(i.idot AS DOUBLE) /
       |           (sqrt(CAST(n.qn AS DOUBLE)) * sqrt(CAST(s.qn AS DOUBLE))), 6)
       |           AS DECIMAL(18,6)) END AS score
       |  FROM idots i JOIN qnorm n USING (vec_id)
       |  JOIN (SELECT vec_id AS qid, qn FROM qnorm WHERE vec_id IN ($ids)) s USING (qid)
       |), qtop AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS r
       |    FROM qcos) WHERE r <= $k
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), dots AS (
       |  SELECT q.qid, c.vec_id, CAST(SUM(CAST(c.x * q.qx2 AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex c JOIN (SELECT vec_id AS qid, d, x AS qx2 FROM ex
       |                  WHERE vec_id IN ($ids)) q USING (d)
       |  WHERE c.vec_id <> q.qid GROUP BY 1, 2
       |), ecos AS (
       |  SELECT dd.qid, dd.vec_id,
       |    CASE WHEN n.norm2 = 0 OR s.norm2 = 0 THEN CAST(0 AS DECIMAL(18,6))
       |         ELSE CAST(round(dd.dot / (sqrt(n.norm2) * sqrt(s.norm2)), 6) AS DECIMAL(18,6)) END AS score
       |  FROM dots dd JOIN norms n USING (vec_id)
       |  JOIN (SELECT vec_id AS qid, norm2 FROM norms WHERE vec_id IN ($ids)) s USING (qid)
       |), etop AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS r
       |    FROM ecos) WHERE r <= $k
       |)
       |SELECT et.qid, CAST(COUNT(qt.vec_id) AS BIGINT) AS n_overlap,
       |  CAST(round(CAST(COUNT(qt.vec_id) AS DOUBLE) / $k, 6) AS DECIMAL(18,6)) AS recall
       |FROM etop et LEFT JOIN qtop qt ON et.qid = qt.qid AND et.vec_id = qt.vec_id
       |GROUP BY et.qid ORDER BY et.qid""".stripMargin
  }

  /** s25: Matryoshka truncated-dimension recall — the OTHER axis of
    * vector compression next to s24's code width: rank by cosine over
    * only the FIRST d′ dimensions (Kusupati et al.'s MRL serving trick:
    * a prefix of a Matryoshka-trained embedding is itself a usable
    * embedding at d′/D of the compute and memory) and report recall@k
    * against the full-dimension ranking, one row per (d′, query). The
    * output is the dimension/recall CURVE an embedding store consults
    * when choosing its serving width.
    *
    * Shape: the full-dimension ranking is computed once; each truncated
    * width adds one more broadcast-query scoring pass over `slice`d
    * arrays (cheaper per pass — the kernel sees d′ elements) into the
    * same bounded top-k aggregator. All passes share one spread corpus
    * scan via the checkpoint. Exact-decimal dots/norms throughout; both
    * rankings tie-break (score desc, id asc); zero-prefix vectors (a
    * vector can be zero in its first d′ dims without being zero) score
    * 0 through the same guard as s24. */
  def mrlRecall(emb: DataFrame, queryIds: Seq[Long] = Seq(0L, 1L, 2L),
                dims: Seq[Int] = Seq(8, 16, 32), k: Int = 10): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val base = spread(emb).select(col("vec_id"), col("embedding"))
      .loopCheckpoint(true)
    val probes = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .loopCheckpoint(true) // |queries|·corpus slim rows; scored |dims|+1 times
    def topAt(d: Option[Int]) = {
      def cut(c: Column) = d.map(n => slice(c, 1, n)).getOrElse(c)
      val e = cut(col("embedding"))
      val q = cut(col("qe"))
      graft.search.Rank.topKPerQueryAgg(
        cands.select(col("qid"), col("vec_id").as("doc_id"),
          when(norm2Col(e) === 0 || norm2Col(q) === 0,
              lit(java.math.BigDecimal.ZERO).cast(Out6))
            .otherwise(round(dotCol(e, q) / (sqrt(norm2Col(e)) * sqrt(norm2Col(q))), 6)
              .cast(Out6)).as("score")), k)
    }
    val full = topAt(None).select(col("qid"), col("doc_id"))
      .loopCheckpoint(true) // k·|queries| rows; joined once per width
    dims.map { d =>
      topAt(Some(d)).select(col("qid"), col("doc_id"), lit(1L).as("hit"))
        .join(full, Seq("qid", "doc_id"), "right_outer")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_overlap"))
        .select(lit(d.toLong).as("dims"), col("qid"), col("n_overlap"),
          round(col("n_overlap").cast("double") / k, 6).cast(Out6).as("recall"))
    }.reduce(_.unionAll(_)).orderBy("dims", "qid")
  }

  def mrlRecallSql(queryIds: Seq[Long] = Seq(0L, 1L, 2L),
                   dims: Seq[Int] = Seq(8, 16, 32), k: Int = 10): String = {
    val ids = queryIds.mkString(", ")
    def rankCtes(tag: String, dimFilter: String) =
      s"""norms$tag AS (
         |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
         |  FROM ex WHERE $dimFilter GROUP BY vec_id
         |), dots$tag AS (
         |  SELECT q.qid, c.vec_id, CAST(SUM(CAST(c.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
         |  FROM ex c JOIN (SELECT vec_id AS qid, d, x AS qx FROM ex
         |                  WHERE vec_id IN ($ids) AND $dimFilter) q USING (d)
         |  WHERE c.vec_id <> q.qid AND $dimFilter GROUP BY 1, 2
         |), top$tag AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT s.qid, s.vec_id,
         |      row_number() OVER (PARTITION BY s.qid ORDER BY s.score DESC, s.vec_id ASC) AS r
         |    FROM (
         |      SELECT dd.qid, dd.vec_id,
         |        CASE WHEN n.norm2 = 0 OR sn.norm2 = 0 THEN CAST(0 AS DECIMAL(18,6))
         |             ELSE CAST(round(dd.dot / (sqrt(n.norm2) * sqrt(sn.norm2)), 6) AS DECIMAL(18,6)) END AS score
         |      FROM dots$tag dd JOIN norms$tag n USING (vec_id)
         |      JOIN (SELECT vec_id AS qid, norm2 FROM norms$tag WHERE vec_id IN ($ids)) sn USING (qid)
         |    ) s) WHERE r <= $k
         |)""".stripMargin
    val perDim = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dims, f.qid,
         |  CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap,
         |  CAST(round(CAST(COUNT(t.vec_id) AS DOUBLE) / $k, 6) AS DECIMAL(18,6)) AS recall
         |FROM topfull f LEFT JOIN topd$d t ON f.qid = t.qid AND f.vec_id = t.vec_id
         |GROUP BY f.qid""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |),
       |${rankCtes("full", "TRUE")},
       |${dims.map(d => rankCtes(s"d$d", s"d < $d")).mkString(",\n")}
       |SELECT * FROM (
       |$perDim
       |) ORDER BY dims, qid""".stripMargin
  }

  def mmrRerank(emb: DataFrame, queryId: Long, n: Int = 20, k: Int = 5,
                lam: Double = 0.7): DataFrame = {
    val spark = emb.sparkSession
    VectorDotExact.register(spark)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    val cands = emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        norm2Col(col("embedding")).as("n2"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("rel"))
      .orderBy(desc("rel"), asc("vec_id")).limit(n)
      .loopCheckpoint(true) // n rows: feeds the sim matrix AND every greedy step
    val a = cands.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
      col("n2").as("na"))
    val b = cands.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      col("n2").as("nb"))
    val sims = a.crossJoin(b).filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dotCol(col("ea"), col("eb")) / (sqrt(col("na")) * sqrt(col("nb"))), 6)
          .cast(Out6).as("sim"))
      .loopCheckpoint(true) // ≤ n² rows
    var sel = Vector.empty[Long]
    val picks = Vector.newBuilder[(Int, Long, java.math.BigDecimal)]
    for (r <- 1 to k) {
      val remaining = cands.filter(!col("vec_id").isin(sel: _*))
      val withMax =
        if (sel.isEmpty) remaining.withColumn("maxsim", lit(0).cast(Out6))
        else remaining.join(
            sims.filter(col("b_id").isin(sel: _*))
              .groupBy("a_id").agg(max("sim").as("maxsim")),
            col("vec_id") === col("a_id"), "left")
          .withColumn("maxsim", coalesce(col("maxsim"), lit(0).cast(Out6)))
      val pick = withMax.select(col("vec_id"),
          round(lit(lam) * col("rel").cast("double") -
            lit(1.0 - lam) * col("maxsim").cast("double"), 6).cast(Out6).as("mmr"))
        .orderBy(desc("mmr"), asc("vec_id")).limit(1)
        .head() // 1 row from an ≤ n-row frame — bounded, corpus-independent
      val id = pick.getAs[Long]("vec_id")
      picks += ((r, id, pick.getAs[java.math.BigDecimal]("mmr")))
      sel = sel :+ id
    }
    import spark.implicits._
    picks.result().toDF("rank", "vec_id", "mmr")
      .select(col("rank"), col("vec_id"), col("mmr").cast(Out6).as("mmr"))
  }

  def mmrRerankSql(queryId: Long, n: Int = 20, k: Int = 5,
                   lam: Double = 0.7): String = {
    val oneMinus = 1.0 - lam
    // greedy stages 2..k, each reading the union of all prior picks
    val stages = (2 to k).map { r =>
      val prior = (1 until r).map(i => s"SELECT vec_id FROM sel$i").mkString(" UNION ALL ")
      s"""sel$r AS (
         |  SELECT c.vec_id,
         |    CAST(round($lam * CAST(c.rel AS DOUBLE) -
         |      $oneMinus * CAST(COALESCE(m.maxsim, CAST(0 AS DECIMAL(18,6))) AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS mmr
         |  FROM cands c LEFT JOIN (
         |    SELECT a_id, MAX(sim) AS maxsim FROM sims
         |    WHERE b_id IN ($prior) GROUP BY a_id
         |  ) m ON c.vec_id = m.a_id
         |  WHERE c.vec_id NOT IN ($prior)
         |  ORDER BY mmr DESC, c.vec_id ASC LIMIT 1
         |)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k)
      .map(r => s"SELECT $r AS rank, vec_id, mmr FROM sel$r").mkString(" UNION ALL ")
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), q AS (SELECT d, x AS qx FROM ex WHERE vec_id = $queryId),
       |qn AS (SELECT norm2 AS qnorm2 FROM norms WHERE vec_id = $queryId),
       |dots AS (
       |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN q USING (d) WHERE ex.vec_id != $queryId GROUP BY ex.vec_id
       |), cands AS (
       |  SELECT d.vec_id,
       |    CAST(round(d.dot / (sqrt(nn.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS rel
       |  FROM dots d JOIN norms nn USING (vec_id) CROSS JOIN qn
       |  ORDER BY rel DESC, vec_id ASC LIMIT $n
       |), cex AS (
       |  SELECT e.vec_id, e.d, e.x FROM ex e JOIN cands USING (vec_id)
       |), pair_dots AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    CAST(SUM(CAST(a.x * b.x AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM cex a JOIN cex b ON a.d = b.d AND a.vec_id != b.vec_id
       |  GROUP BY a.vec_id, b.vec_id
       |), sims AS (
       |  SELECT p.a_id, p.b_id,
       |    CAST(round(p.dot / (sqrt(na.norm2) * sqrt(nb.norm2)), 6) AS DECIMAL(18,6)) AS sim
       |  FROM pair_dots p
       |  JOIN norms na ON p.a_id = na.vec_id
       |  JOIN norms nb ON p.b_id = nb.vec_id
       |), sel1 AS (
       |  SELECT vec_id,
       |    CAST(round($lam * CAST(rel AS DOUBLE) - $oneMinus * 0.0, 6)
       |      AS DECIMAL(18,6)) AS mmr
       |  FROM cands ORDER BY mmr DESC, vec_id ASC LIMIT 1
       |),
       |$stages
       |SELECT rank, vec_id, mmr FROM ($union) ORDER BY rank""".stripMargin
  }

  /** s16: maximum-inner-product top-k (MIPS) — the retrieval scoring
    * rule when embeddings are trained with dot-product relevance
    * (recommender two-tower models, unnormalized retrieval heads), where
    * vector MAGNITUDE is part of the signal and cosine's normalization
    * would erase it. Same zero-wide-shuffle plan as [[knnBrute]]:
    * broadcast the single query row, one codegen'd [[VectorDotExact]]
    * per corpus row, TakeOrdered. At cluster scale the standard ANN
    * reduction applies unchanged: augment each vector with
    * sqrt(M²−|v|²) (M = max norm) and MIPS becomes cosine ANN over the
    * augmented space, so [[annLsh]]/[[annIvf]] serve as the candidate
    * generators with this exact scorer as the re-rank. */
  def mipsBrute(emb: DataFrame, queryId: Long, k: Int = 10): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotCol(col("embedding"), col("qe")), 6).cast(Out6).as("ip"))
      .orderBy(desc("ip"), asc("vec_id"))
      .limit(k)
  }

  def mipsBruteSql(queryId: Long, k: Int = 10): String =
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), q AS (SELECT d, x AS qx FROM ex WHERE vec_id = $queryId),
       |dots AS (
       |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN q USING (d) WHERE ex.vec_id != $queryId GROUP BY ex.vec_id
       |)
       |SELECT vec_id, CAST(round(dot, 6) AS DECIMAL(18,6)) AS ip
       |FROM dots ORDER BY ip DESC, vec_id ASC LIMIT $k""".stripMargin

  /** s17: filtered vector search — exact cosine top-k restricted to a
    * metadata predicate (here `label = …`), the production vector-store
    * shape where every query carries a filter (tenant, language,
    * freshness). PRE-filtering is the point: the predicate sits under
    * the broadcast join, so at scale it pushes into the parquet scan
    * (`PushedFilters`) and candidates shrink BEFORE any vector math —
    * post-filtering an ANN result instead silently under-returns k when
    * the filter is selective. Same zero-wide-shuffle skeleton as
    * [[knnBrute]]. */
  def filteredKnn(emb: DataFrame, queryId: Long, labelEq: Int,
                  k: Int = 10): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    emb.filter(col("vec_id") =!= queryId && col("label") === labelEq)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  def filteredKnnSql(queryId: Long, labelEq: Int, k: Int = 10): String =
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), q AS (SELECT d, x AS qx FROM ex WHERE vec_id = $queryId),
       |qn AS (SELECT norm2 AS qnorm2 FROM norms WHERE vec_id = $queryId),
       |cands AS (SELECT vec_id, label FROM embeddings
       |          WHERE label = $labelEq AND vec_id != $queryId),
       |dots AS (
       |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN cands USING (vec_id) JOIN q USING (d) GROUP BY ex.vec_id
       |)
       |SELECT d.vec_id, c.label,
       |  CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |FROM dots d JOIN cands c USING (vec_id) JOIN norms n USING (vec_id) CROSS JOIN qn
       |ORDER BY cos DESC, vec_id ASC LIMIT $k""".stripMargin

  // ----------------------------------------------------------------- LSH

  /** Driver-side LCG hyperplane weights for (table, plane): exact dyadic
    * doubles, identical to the SQL oracle's arithmetic. */
  def planeWeights(t: Int, p: Int, nPlanes: Int): Array[Double] =
    Array.tabulate(Dims) { d =>
      val idx = (t.toLong * nPlanes + p) * Dims + d
      ((idx * 1103515245L + 12345L) % 2097152L).toDouble / 2097152.0 - 0.5
    }

  /** (vec_id, t, bucket): sign-bit buckets per LSH table, computed
    * per-row in ONE codegen'd kernel pass — no joins, no shuffles, and
    * (round 6) no literal plane arrays: [[graft.functions.LshBucketsExact]]
    * regenerates the LCG weights on the fly, so the compiled plan carries
    * one expression instead of l·p 64-double literals (which cost
    * s2_ann_lsh ~3.9 s of one-time codegen/JIT; NOTES.md backlog #3). */
  def buckets(emb: DataFrame, l: Int = 4, p: Int = 6): DataFrame = {
    graft.functions.LshBucketsExact.register(emb.sparkSession)
    // l·p·dims decimal products per row (~1.5k at the defaults) — the
    // spread() regime (see its scaladoc)
    spread(emb).select(col("vec_id"),
      posexplode(graft.functions.LshBucketsExact(col("embedding"), l, p, Dims))
        .as(Seq("t", "bucket")))
  }

  private def bucketsSql(l: Int, p: Int): String =
    s"""ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), planes AS (
       |  SELECT i // ${p * Dims} AS t, (i // $Dims) % $p AS p, i % $Dims AS d,
       |         CAST((i * 1103515245 + 12345) % 2097152 AS DOUBLE) / 2097152.0 - 0.5 AS w
       |  FROM UNNEST(range(${l.toLong * p * Dims})) AS r(i)
       |), proj AS (
       |  SELECT vec_id, t, p, SUM(CAST(x * w AS DECIMAL(32,16))) AS proj
       |  FROM ex JOIN planes USING (d) GROUP BY vec_id, t, p
       |), buckets AS (
       |  SELECT vec_id, t,
       |         SUM(CASE WHEN proj >= 0 THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END) AS bucket
       |  FROM proj GROUP BY vec_id, t
       |)""".stripMargin

  /** ANN top-k: candidates share a (table, bucket) with the query in any
    * of the L tables; exact per-row cosine re-rank on candidates only. */
  def annLsh(emb: DataFrame, queryId: Long, k: Int = 10,
             l: Int = 4, p: Int = 6): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val b = buckets(emb, l, p)
    val qb = b.filter(col("vec_id") === queryId)
      .select(col("t").as("qt"), col("bucket").as("qbucket"))
    val cands = b.join(broadcast(qb), col("t") === col("qt") && col("bucket") === col("qbucket"))
      .filter(col("vec_id") =!= queryId)
      .select("vec_id").distinct()
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    emb.join(broadcast(cands), "vec_id") // prune BEFORE any dot products
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  def annLshSql(queryId: Long, k: Int = 10, l: Int = 4, p: Int = 6): String =
    s"""WITH ${bucketsSql(l, p)},
       |qb AS (SELECT t, bucket FROM buckets WHERE vec_id = $queryId),
       |cands AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM buckets b JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
       |  WHERE b.vec_id != $queryId
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), q AS (SELECT d, x AS qx FROM ex WHERE vec_id = $queryId),
       |qn AS (SELECT norm2 AS qnorm2 FROM norms WHERE vec_id = $queryId),
       |dots AS (
       |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN cands USING (vec_id) JOIN q USING (d) GROUP BY ex.vec_id
       |)
       |SELECT d.vec_id, CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |FROM dots d JOIN norms n USING (vec_id) CROSS JOIN qn
       |ORDER BY cos DESC, vec_id ASC LIMIT $k""".stripMargin

  /** ALL LSH table-0 bucket-mate pairs with exact cosine — the shared
    * candidate-pair frame behind [[nearDupPairs]] (top-k) and
    * [[embeddingClusters]] (threshold + connected components). Bounded:
    * bucket-mates only, never the n² cross join; the per-pair work is
    * exactly one codegen'd dot-product fold. */
  def scoredPairs(emb: DataFrame, p: Int = 6): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    // materialize once — both sides of the pair self-join reuse it
    val b = buckets(emb, l = 1, p = p).select("vec_id", "bucket").loopCheckpoint(true)
    val pairs = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
    // norms once per VECTOR (5k scalar rows joined in), not per pair —
    // the per-pair work is exactly one dot-product fold
    val n = norms(emb)
    val withVecs = pairs
      .join(emb.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .join(n.select(col("vec_id").as("va"), sqrt(col("norm2")).as("sna")), "va")
      .join(n.select(col("vec_id").as("vb"), sqrt(col("norm2")).as("snb")), "vb")
    withVecs.select(col("va"), col("vb"),
      round(dotCol(col("ea"), col("eb")) / (col("sna") * col("snb")), 6)
        .cast(Out6).as("cos"))
  }

  /** Hyperplane count scaled to the corpus: p = max(6, ⌈log₂(n /
    * targetOccupancy)⌉), so mean bucket occupancy stays ≈ constant as
    * the corpus grows. At a FIXED p, candidate-pair volume grows
    * quadratically with density — measured at the 10× probe corpus:
    * p = 6 → 6.2M candidate pairs, the auto p = 10 → 1.3M (SCALE.md).
    * At the sf0.001/0.01/0.1 gate scales autoP stays 6, so every
    * recorded oracle hash is unchanged. The one driver-side `count()`
    * is a planning decision (the AQE analogue), not data-plane work. */
  def autoP(n: Long, targetOccupancy: Int = 32): Int =
    math.max(6, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt)

  /** Corpus-adaptive plane count per sf-dir, DETERMINISTIC and
    * order-independent (round-6 fix): computed once per dir from the
    * embeddings row count (parquet-metadata-only) and cached by
    * normalized dir, never recorded as a side effect of whichever query
    * happened to run last. Every consumer — engine queries AND oracle
    * builders — reads the same function, and the [[cachedScoredPairs]]
    * memo key carries p, so a pair frame built under one p can never be
    * served to a consumer expecting another. */
  private val autoPByDir = scala.collection.concurrent.TrieMap.empty[String, Int]

  def autoPForDir(s: SparkSession, dir: String): Int =
    autoPByDir.getOrElseUpdate(Tables.norm(dir),
      autoP(Tables.embeddings(s, dir).count()))

  /** The plane count for the oracle twins. The LSH oracles are built by
    * `SparkEntry.oracleSql` (no dir parameter), so this resolves from
    * [[autoPByDir]]: a Verify/Bench run touches exactly one dir, whose p
    * every LSH query resolved through [[autoPForDir]] — subset runs
    * (SPARK_GRAFT_ONLY=s3) included, since the query itself populates
    * the cache before any oracle is rendered. Ambiguity (two dirs with
    * DIFFERENT p in one JVM) fails loudly rather than guessing. */
  def oracleP: Int = {
    val ps = autoPByDir.values.toSet
    require(ps.size <= 1,
      s"LSH oracle plane count ambiguous: autoP differs across dirs $autoPByDir")
    ps.headOption.getOrElse {
      require(allowUnseededOracleRender,
        "LSH oracle rendered before any query populated autoP — the " +
          "render-after-run contract is broken (ADVICE r11). Keys-only " +
          "consumers (RegistrySpec/QueryCount) must set " +
          "allowUnseededOracleRender.")
      6
    }
  }

  /** Keys-only render escape hatch (ADVICE r11): registry-integrity
    * consumers (RegistrySpec, tools.QueryCount) build the oracle map
    * purely for its KEY SET, with no query run and hence empty planning
    * caches — [[oracleP]]/[[oracleCells]]/[[oracleSweepBase]] would
    * otherwise (correctly) refuse to render. Those consumers use
    * [[withUnseededOracleRender]]; the full-registry comparison path
    * (driver Verify) never does, so a render whose k or fact path could
    * actually be WRONG fails loudly instead of silently defaulting.
    * PRIVATE and scoped (ADVICE r12): the old public latched var let any
    * suite that ran after RegistrySpec in the shared test JVM silently
    * lose the fail-loud guard for the rest of the process. */
  @volatile private var allowUnseededOracleRender: Boolean = false

  /** Run `body` with the unseeded-render guard relaxed, restoring the
    * guard in a finally — the ONLY way consumers get the escape hatch,
    * so it can never latch past its legitimate keys-only scope. */
  def withUnseededOracleRender[T](body: => T): T = {
    val prev = allowUnseededOracleRender
    allowUnseededOracleRender = true
    try body finally allowUnseededOracleRender = prev
  }

  /** Coarse-quantizer cell count scaled to the corpus: k = max(4, ⌈√n⌉)
    * (the standard IVF guidance — with √n cells, a cell holds ≈ √n
    * vectors, so the s20 cell-bounded near-dup probe touches O(√n)
    * candidates per delta row instead of the n/k ≈ n/4 a FIXED k=4
    * degenerates to at scale; VERDICT r10 finding 2). Same planning
    * posture as [[autoP]]: one driver-side corpus count per dir is the
    * AQE-style planning decision, never data-plane work. At the
    * sf0.001/0.01 gate scales (400 corpus vectors) k = 20; at sf0.1
    * (1600) k = 40. */
  def autoCells(nCorpus: Long): Int = {
    val sqrtK = math.max(4L,
      math.ceil(math.sqrt(math.max(0L, nCorpus).toDouble)).toLong)
    math.max(1L, math.min(math.max(1L, nCorpus), sqrtK)).toInt
  }

  /** Corpus-adaptive s20 cell count per sf-dir — deterministic and
    * order-independent, cached by normalized dir exactly like
    * [[autoPByDir]] so engine query and oracle builder always read the
    * same k. The count is corpus-side rows only (vec_id % 5 ≠ 0, the
    * s20 corpus/delta split). */
  private val autoCellsByDir = scala.collection.concurrent.TrieMap.empty[String, Int]

  def autoCellsForDir(s: SparkSession, dir: String): Int =
    autoCellsByDir.getOrElseUpdate(Tables.norm(dir),
      autoCells(Tables.embeddings(s, dir)
        .filter(col("vec_id") % 5 =!= 0).count()))

  /** The s20 cell count for the oracle twin — resolved from
    * [[autoCellsByDir]] after the query populated it (Verify renders
    * oracles after the queries run; the SPARK_GRAFT_ONLY filter selects
    * query and oracle together, so a rendered s20 oracle always follows
    * an s20 run). Ambiguity across dirs fails loudly, as [[oracleP]]. */
  def oracleCells: Int = {
    val ks = autoCellsByDir.values.toSet
    require(ks.size <= 1,
      s"s20 oracle cell count ambiguous: autoCells differs across dirs $autoCellsByDir")
    ks.headOption.getOrElse {
      require(allowUnseededOracleRender,
        "s20 oracle rendered before any query populated autoCells — a " +
          "silent k default would point at the wrong k-suffixed artifact " +
          "(ADVICE r11). Keys-only consumers must set " +
          "allowUnseededOracleRender.")
      4
    }
  }

  /** Scored pair frame memoized per (session, sf-dir, p) — s3's input
    * and s5's edge source. Small by construction (candidate pairs ≪ n²).
    * Plane count is corpus-adaptive ([[autoP]]). */
  def cachedScoredPairs(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val p = autoPForDir(s, dir)
    graft.plans.Materialized(s, s"sim_scored_pairs:p$p:${Tables.norm(dir)}")(
      scoredPairs(emb, p = p))
  }

  /** Cluster labels memoized per (session, sf-dir, p) — s5's output and
    * s12's input (clustered vectors only, ≪ corpus). The CC fixpoint
    * runs once per session, not once per consumer. */
  def cachedClusters(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s,
      s"sim_clusters:p${autoPForDir(s, dir)}:${Tables.norm(dir)}")(
      embeddingClusters(cachedScoredPairs(s, dir)))

  /** Embedding near-dup pairs: bucket-mates in LSH table 0, exact cosine
    * per pair (embeddings joined to the slim pair list, dot computed
    * per-row), global top-k. */
  def nearDupPairs(emb: DataFrame, topK: Int = 10, p: Int = 6): DataFrame =
    nearDupPairsFromScored(scoredPairs(emb, p), topK)

  /** Same over a pre-computed [[scoredPairs]] frame. */
  def nearDupPairsFromScored(scored: DataFrame, topK: Int = 10): DataFrame =
    scored.orderBy(desc("cos"), asc("va"), asc("vb")).limit(topK)

  /** Embedding-cosine near-dup CLUSTERS: candidate pairs with cos ≥
    * minCos form an undirected graph; connected components label every
    * clustered vector with the min vec_id of its cluster (transitive:
    * a~b, b~c cluster a,b,c even if a,c never shared a bucket's
    * candidate pair). The same compose-two-modules shape as d8 — the
    * threshold join feeds the iterative graph fixpoint; the pair graph
    * ≪ corpus, so the CC rounds are cheap at any scale. Only vectors
    * appearing in a qualifying pair are emitted (singletons are not
    * clusters). */
  def embeddingClusters(scored: DataFrame, minCos: Double = 0.30): DataFrame =
    graft.graph.Graph.connectedComponents(
        scored.filter(col("cos") >= minCos)
          .select(col("va").as("src"), col("vb").as("dst")))
      .select(col("id").as("vec_id"), col("component").as("cluster"))
      .orderBy("vec_id")

  /** Shared CTE block ending in `scored(va, vb, cos)` — the SQL twin of
    * [[scoredPairs]]. */
  private def scoredPairsSqlCtes(p: Int): String =
    s"""${bucketsSql(1, p)},
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM buckets a JOIN buckets b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), dots AS (
       |  SELECT p.va, p.vb,
       |         CAST(SUM(CAST(ea.x * eb.x AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM pairs p
       |  JOIN ex ea ON ea.vec_id = p.va
       |  JOIN ex eb ON eb.vec_id = p.vb AND eb.d = ea.d
       |  GROUP BY p.va, p.vb
       |), scored AS (
       |  SELECT d.va, d.vb, CAST(round(d.dot / (sqrt(na.norm2) * sqrt(nb.norm2)), 6) AS DECIMAL(18,6)) AS cos
       |  FROM dots d JOIN norms na ON d.va = na.vec_id JOIN norms nb ON d.vb = nb.vec_id
       |)""".stripMargin

  def nearDupPairsSql(topK: Int = 10, p: Int = 6): String =
    s"""WITH ${scoredPairsSqlCtes(p)}
       |SELECT va, vb, cos FROM scored
       |ORDER BY cos DESC, va ASC, vb ASC LIMIT $topK""".stripMargin

  /** kNN graph over the bucket-mate candidate pairs: each vector's top-k
    * scored neighbors as directed edges (src, dst, cos, rk) — the
    * structure SemDeDup-style semantic curation and graph-based
    * diversity sampling consume. Symmetrize the canonical pairs, then a
    * rank window PARTITIONED BY src (never a global sort); candidates
    * stay bucket-bounded, so at 100 TB the pair list — not n² — is the
    * working set. Shares the memoized scored-pair frame with s3/s5. */
  def knnGraphFromScored(scored: DataFrame, k: Int = 3): DataFrame = {
    val sym = scored.select(col("va").as("src"), col("vb").as("dst"), col("cos"))
      .union(scored.select(col("vb").as("src"), col("va").as("dst"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(desc("cos"), asc("dst"))
    sym.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), col("cos"), col("rk").cast("bigint").as("rk"))
      .orderBy("src", "rk")
  }

  def knnGraphSql(k: Int = 3, p: Int = 6): String =
    s"""WITH ${scoredPairsSqlCtes(p)},
       |sym AS (
       |  SELECT va AS src, vb AS dst, cos FROM scored
       |  UNION ALL SELECT vb AS src, va AS dst, cos FROM scored
       |), ranked AS (
       |  SELECT src, dst, cos,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS BIGINT) AS rk
       |  FROM sym
       |)
       |SELECT src, dst, cos, rk FROM ranked WHERE rk <= $k ORDER BY src, rk""".stripMargin

  /** Oracle for [[embeddingClusters]]: threshold pairs → transitive
    * closure via recursive CTE → min reachable label per vector. */
  /** Shared recursive CTE block ending in `clusters(vec_id, cluster)` —
    * the SQL twin of [[embeddingClusters]]. */
  private def clustersSqlCtes(minCos: Double, p: Int): String =
    s"""${scoredPairsSqlCtes(p)},
       |und AS (
       |  SELECT va AS src, vb AS dst FROM scored WHERE cos >= $minCos
       |  UNION SELECT vb, va FROM scored WHERE cos >= $minCos
       |), v AS (SELECT src AS id FROM und UNION SELECT dst FROM und),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id),
       |clusters AS (
       |  SELECT id AS vec_id, min(lbl) AS cluster FROM reach GROUP BY id)""".stripMargin

  def embeddingClustersSql(minCos: Double = 0.30, p: Int = 6): String =
    s"""WITH RECURSIVE ${clustersSqlCtes(minCos, p)}
       |SELECT vec_id, cluster FROM clusters ORDER BY vec_id""".stripMargin

  /** SemDeDup-style keep/drop decision: every vector keeps its cluster
    * label (null for singletons) and a `keep` flag — the cluster's min
    * vec_id (or any unclustered vector) survives, near-duplicates drop.
    * One |V|-sized left join downstream of the memoized cluster frame;
    * the output IS the curation decision table a pipeline applies at
    * write time. */
  def semanticDedup(emb: DataFrame, clusters: DataFrame): DataFrame =
    emb.select(col("vec_id"))
      .join(clusters, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        (col("cluster").isNull || col("cluster") === col("vec_id"))
          .cast("long").as("keep"))
      .orderBy("vec_id")

  def semanticDedupSql(minCos: Double = 0.30, p: Int = 6): String =
    s"""WITH RECURSIVE ${clustersSqlCtes(minCos, p)}
       |SELECT e.vec_id, c.cluster,
       |  CAST(c.cluster IS NULL OR c.cluster = e.vec_id AS BIGINT) AS keep
       |FROM embeddings e LEFT JOIN clusters c USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin

  // ----------------------------------------------------------------- IVF

  /** IVF (inverted-file) ANN: a spark.ml KMeans coarse quantizer assigns
    * every vector to a centroid list; a query probes only its `nprobe`
    * nearest centroids and re-ranks exactly within them. The alternative
    * scale path to [[annLsh]] — at 1B vectors the probe list turns an
    * O(n) scan into O(n·nprobe/k), and the partition-by-centroid layout
    * is exactly how the vectors would be laid out on disk.
    *
    * Deterministic given fixed seed/data. The KMeans fit itself is not
    * SQL-expressible, but the assignments and probe list are FACTS once
    * computed — [[annIvfPersisted]] writes them to parquet and re-ranks
    * from the files, so the probe-prune + exact-re-rank math is a real
    * DuckDB hash-check ([[annIvfSql]]).
    *
    * `fitSampleMod` trains the quantizer on the deterministic hash-bucket
    * sample `xxhash64(vec_id) % fitSampleMod == 0` — at 1B vectors the
    * coarse quantizer needs only O(centroids × oversampling) training
    * points, not the full corpus; ASSIGNMENT still covers every vector.
    * Default 1 (no sampling) keeps tiny-fixture tests meaningful.
    */
  def annIvf(emb: DataFrame, queryId: Long, k: Int = 10,
             nCentroids: Int = 16, nprobe: Int = 4,
             fitSampleMod: Int = 1): DataFrame = {
    val (assigned, probes, q) = ivfFit(emb, queryId, nCentroids, nprobe, fitSampleMod)
    rerank(assigned.join(broadcast(probes), "centroid") // probe pruning
      .select(col("vec_id"), col("embedding")), q, queryId, k)
  }

  /** Fit quantizer → (assignments incl. embedding, probe list, 1-row query
    * frame). Shared by the direct and persisted IVF paths. */
  private def ivfFit(emb: DataFrame, queryId: Long, nCentroids: Int,
                     nprobe: Int, fitSampleMod: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    VectorDotExact.register(emb.sparkSession)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = emb.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    val trainVecs =
      if (fitSampleMod <= 1) vecs
      else vecs.filter(pmod(xxhash64(col("vec_id")), lit(fitSampleMod)) === 0)
    val model = new KMeans().setK(nCentroids).setSeed(42L).setMaxIter(10)
      .fit(trainVecs)
    val assigned = model.transform(vecs)
      .select(col("vec_id"), col("embedding"), col("prediction").as("centroid"))
      .loopCheckpoint(true) // reused for probe selection + candidate scan
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    // nprobe centroids closest to the query vector (tiny: k centroid
    // rows). KMeans assigns by EUCLIDEAN distance, so probe by the same
    // metric: argmin ‖c−q‖² == argmax (c·q − ‖c‖²/2) for fixed q —
    // ranking by raw dot product would disagree for non-unit centroids.
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq
    val spark2 = emb.sparkSession
    import spark2.implicits._
    val centDf = centroids.toDF("centroid", "cvec")
    val probes = centDf.crossJoin(broadcast(q.select(col("qe"))))
      .select(col("centroid"),
        (dotCol(col("cvec"), col("qe")) - norm2Col(col("cvec")) / 2).as("sim"))
      .orderBy(desc("sim")).limit(nprobe)
      .select("centroid")
    (assigned, probes, q)
  }

  /** Exact cosine top-k of `cands(vec_id, embedding)` against the 1-row
    * query frame `q(qe, qnorm2)`. */
  private def rerank(cands: DataFrame, q: DataFrame, queryId: Long, k: Int): DataFrame =
    cands.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)

  private def ivfBase: String = graft.sources.Artifacts.path("ivf")

  /** The query-independent half of the IVF fit, memoized per (session,
    * sf-dir) and SHARED by s4 and s19 — the production shape: the coarse
    * quantizer is fit once per corpus version and every query serves
    * from it. Returns (assignment ids (vec_id, centroid) — 2 ints per
    * vector, memo-safe; centroid frame (centroid, cvec) — k tiny rows).
    * Same seed/data as the per-query fit, so the model is identical;
    * memoization changes WHEN the fit runs, never what queries return. */
  private def cachedIvfParts(s: SparkSession, dir: String, nCentroids: Int,
                             fitSampleMod: Int): (DataFrame, DataFrame) = {
    val norm = Tables.norm(dir)
    lazy val fitted: (DataFrame, DataFrame) = {
      VectorDotExact.register(s)
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = Tables.embeddings(s, dir)
      val vecs = emb.select(col("vec_id"), col("embedding"),
        array_to_vector(col("embedding")).as("features"))
      val trainVecs =
        if (fitSampleMod <= 1) vecs
        else vecs.filter(pmod(xxhash64(col("vec_id")), lit(fitSampleMod)) === 0)
      val model = new KMeans().setK(nCentroids).setSeed(42L).setMaxIter(10)
        .fit(trainVecs)
      val assignedIds = model.transform(vecs)
        .select(col("vec_id"), col("prediction").as("centroid"))
      import s.implicits._
      val centDf = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.map(_.toFloat))
      }.toSeq.toDF("centroid", "cvec")
      (assignedIds, centDf)
    }
    val tag = s"k$nCentroids:m$fitSampleMod:$norm"
    (graft.plans.Materialized(s, s"ivf_assign:$tag")(fitted._1),
      graft.plans.Materialized(s, s"ivf_cents:$tag")(fitted._2))
  }

  /** nprobe centroids closest to the query by the KMeans metric
    * (argmin ‖c−q‖² == argmax (c·q − ‖c‖²/2) for fixed q). */
  private def ivfProbes(centDf: DataFrame, q: DataFrame, nprobe: Int): DataFrame =
    centDf.crossJoin(broadcast(q.select(col("qe"))))
      .select(col("centroid"),
        (dotCol(col("cvec"), col("qe")) - norm2Col(col("cvec")) / 2).as("sim"))
      .orderBy(desc("sim")).limit(nprobe)
      .select("centroid")

  /** The persisted-fact tail shared by the refit and served IVF paths:
    * write assignments + probes under `base` (the oracle's facts), read
    * them back, candidate-prune, exact re-rank. A fix to the fact
    * columns or the prune must land in both paths by construction. */
  private def persistProbeRerank(emb: DataFrame, assignedIds: DataFrame,
                                 probes: DataFrame, q: DataFrame, base: String,
                                 queryId: Long, k: Int): DataFrame = {
    assignedIds.write.mode("overwrite").parquet(s"$base/assign")
    probes.write.mode("overwrite").parquet(s"$base/probes")
    val s = emb.sparkSession
    val a = s.read.parquet(s"$base/assign")
    val p = s.read.parquet(s"$base/probes")
    rerank(emb.join(a, "vec_id").join(broadcast(p), "centroid")
      .select(col("vec_id"), col("embedding")), q, queryId, k)
  }

  /** s4 serving path over the memoized fit: persist assignments +
    * probes (the oracle's facts), candidate-prune, exact re-rank. Same
    * output as [[annIvfPersisted]]; the quantizer just isn't refit per
    * query. */
  def annIvfServed(s: SparkSession, dir: String, queryId: Long, k: Int = 10,
                   nCentroids: Int = 16, nprobe: Int = 4,
                   fitSampleMod: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (assignedIds, centDf) = cachedIvfParts(s, dir, nCentroids, fitSampleMod)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    persistProbeRerank(emb, assignedIds, ivfProbes(centDf, q, nprobe), q,
      ivfBase, queryId, k)
  }

  /** IVF with persisted assignments + probes: the quantizer output lands
    * in parquet and the candidate selection + exact re-rank read it back,
    * so DuckDB can verify everything downstream of the fit over the same
    * files (pattern: t3_tfidf_persisted). Quantizer trained on a 1-in-4
    * deterministic sample — the 1B-vector posture. */
  def annIvfPersisted(emb: DataFrame, queryId: Long, k: Int = 10,
                      nCentroids: Int = 16, nprobe: Int = 4,
                      fitSampleMod: Int = 4): DataFrame = {
    val (assigned, probes, q) = ivfFit(emb, queryId, nCentroids, nprobe, fitSampleMod)
    persistProbeRerank(emb, assigned.select("vec_id", "centroid"), probes, q,
      ivfBase, queryId, k)
  }

  /** Oracle for [[annIvfPersisted]]: candidates from the persisted
    * assignment/probe parquet, exact decimal-quantized cosine re-rank. */
  def annIvfSql(queryId: Long, k: Int = 10): String =
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), assigned AS (SELECT * FROM '$ivfBase/assign/*.parquet'),
       |probes AS (SELECT * FROM '$ivfBase/probes/*.parquet'),
       |cands AS (
       |  SELECT vec_id FROM assigned JOIN probes USING (centroid)
       |  WHERE vec_id != $queryId
       |), q AS (SELECT d, x AS qx FROM ex WHERE vec_id = $queryId),
       |qn AS (SELECT norm2 AS qnorm2 FROM norms WHERE vec_id = $queryId),
       |dots AS (
       |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN cands USING (vec_id) JOIN q USING (d) GROUP BY ex.vec_id
       |)
       |SELECT d.vec_id, CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |FROM dots d JOIN norms n USING (vec_id) CROSS JOIN qn
       |ORDER BY cos DESC, vec_id ASC LIMIT $k""".stripMargin

  private def ivfSweepBase(dir: String): String =
    graft.sources.Artifacts.path(s"ivf_sweep_${Tables.norm(dir)}")

  /** Fact paths the s26 query wrote, per dir — the oracle builder has
    * no dir parameter, so it resolves from this cache exactly like
    * [[oracleP]]/[[oracleCells]] (queries run before oracles render;
    * ambiguity across dirs fails loudly). */
  private val sweepBaseByDir = scala.collection.concurrent.TrieMap.empty[String, String]

  private def oracleSweepBase: String = {
    val bs = sweepBaseByDir.values.toSet
    require(bs.size <= 1,
      s"s26 sweep fact path ambiguous across dirs: $sweepBaseByDir")
    bs.headOption.getOrElse {
      require(allowUnseededOracleRender,
        "s26 oracle rendered before the query wrote its sweep facts — " +
          "the fallback path does not exist (ADVICE r11). Keys-only " +
          "consumers must set allowUnseededOracleRender.")
      ivfSweepBase("unset")
    }
  }

  /** s26: IVF recall-vs-nprobe sweep — the tuning curve that tells an
    * operator where to set nprobe (s14 gates ONE operating point; s24/
    * s25 sweep quantization width and truncation dims; this completes
    * the family with the probe-width axis). Reuses the s4/s19 memoized
    * coarse quantizer; the query's FULL centroid ranking (centroid,
    * pr) and the assignments are persisted as the oracle's facts (the
    * s4 discipline: the KMeans fit itself is not SQL-expressible, so
    * DuckDB verifies everything downstream of the persisted fit over
    * the same files).
    *
    * Shape: candidates in the WIDEST probe set are scored exactly ONCE
    * (one corpus-pruned scan carrying each candidate's probe rank);
    * each sweep point is then a filter + TakeOrdered over the
    * checkpointed scored frame — the sweep costs one scan plus
    * |nprobes| metadata-sized top-k reductions, not |nprobes| scans.
    * Recall joins against the one brute-force top-k. At 1B vectors the
    * scored frame is n·maxNp/nCentroids rows of (id, pr, cos) — the
    * sweep is an audit tool priced like one wide-probe query. */
  def nprobeRecall(s: SparkSession, dir: String, queryId: Long = 0L,
                   k: Int = 10, nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                   nCentroids: Int = 16, fitSampleMod: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (assignedIds, centDf) = cachedIvfParts(s, dir, nCentroids, fitSampleMod)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    // full probe ranking by the KMeans metric (the ivfProbes ordering,
    // un-truncated), ties broken by centroid id — k tiny rows
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("sim"), asc("centroid"))
    val pranks = centDf.crossJoin(broadcast(q.select(col("qe"))))
      .select(col("centroid"),
        (dotCol(col("cvec"), col("qe")) - norm2Col(col("cvec")) / 2).as("sim"))
      .withColumn("pr", row_number().over(w))
      .select("centroid", "pr")
    val base = ivfSweepBase(dir)
    sweepBaseByDir.put(Tables.norm(dir), base)
    graft.plans.Materialized(s, s"ivf_sweep_layout:${Tables.norm(dir)}") {
      assignedIds.write.mode("overwrite").parquet(s"$base/assign")
      pranks.write.mode("overwrite").parquet(s"$base/pranks")
      s.range(1).toDF("ok")
    }
    val a = s.read.parquet(s"$base/assign")
    val pRead = s.read.parquet(s"$base/pranks")
    val maxNp = nprobes.max
    val scored = emb.join(a, "vec_id")
      .join(broadcast(pRead.filter(col("pr") <= maxNp)), "centroid")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("pr"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
      .loopCheckpoint(true) // one scan; every sweep point reuses
    val brute = knnBrute(emb, queryId, k).select("vec_id").loopCheckpoint(true)
    nprobes.map { np =>
      scored.filter(col("pr") <= np)
        .orderBy(desc("cos"), asc("vec_id")).limit(k)
        .join(brute, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(np.toLong).as("nprobe"), col("n_overlap"),
          round(col("n_overlap").cast("double") / k, 6).cast(Out6).as("recall"))
    }.reduce(_.union(_)).orderBy("nprobe")
  }

  /** Oracle for [[nprobeRecall]]: per-np top-k from the persisted
    * assignment/probe-rank facts + exact cosine, overlap against the
    * brute-force top-k re-derived from raw parquet. */
  def nprobeRecallSql(queryId: Long = 0L, k: Int = 10,
                      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): String = {
    val base = oracleSweepBase
    val npVals = nprobes.map(np => s"($np)").mkString(", ")
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), assigned AS (SELECT * FROM '$base/assign/*.parquet'),
       |pranks AS (SELECT * FROM '$base/pranks/*.parquet'),
       |q AS (SELECT d, x AS qx FROM ex WHERE vec_id = $queryId),
       |qn AS (SELECT norm2 AS qnorm2 FROM norms WHERE vec_id = $queryId),
       |dots AS (
       |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN q USING (d) WHERE ex.vec_id != $queryId GROUP BY ex.vec_id
       |), scored AS (
       |  SELECT d.vec_id, p.pr,
       |    CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |  FROM dots d JOIN norms n USING (vec_id)
       |  JOIN assigned a ON a.vec_id = d.vec_id
       |  JOIN pranks p ON p.centroid = a.centroid
       |  CROSS JOIN qn
       |), brute AS (SELECT vec_id FROM (
       |  ${knnBruteSql(queryId, k).replace("\n", "\n  ")}
       |)), nps AS (SELECT np FROM (VALUES $npVals) v(np)),
       |topk AS (
       |  SELECT np, vec_id FROM (
       |    SELECT nps.np, s.vec_id,
       |      row_number() OVER (PARTITION BY nps.np
       |        ORDER BY s.cos DESC, s.vec_id ASC) AS rk
       |    FROM scored s JOIN nps ON s.pr <= nps.np)
       |  WHERE rk <= $k
       |)
       |SELECT CAST(t.np AS BIGINT) AS nprobe,
       |  count(b.vec_id) AS n_overlap,
       |  CAST(round(CAST(count(b.vec_id) AS DOUBLE) / $k, 6) AS DECIMAL(18,6)) AS recall
       |FROM topk t LEFT JOIN brute b USING (vec_id)
       |GROUP BY t.np ORDER BY nprobe""".stripMargin
  }

  // ----------------------------------------------------------- centroids

  /** Per-label embedding centroid in long format (label, d, centroid):
    * the mean of every dimension over each label's vectors — the class
    * prototype a retrieval/monitoring pipeline keeps per domain.
    *
    * This is the one embedding operator where exploding to element rows
    * IS the right distributed shape: a global per-dimension aggregate
    * partial-aggregates (label, d) sums map-side, so only labels × Dims
    * rows per partition reach the shuffle — unlike per-pair dots, where
    * exploding would shuffle corpus × Dims rows. Sums are
    * decimal-quantized (order-independent), the mean is quantized before
    * the 6-dp round (the [[graft.ml.Classify]] q6 pattern). */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("label", "d")
      .agg(round((sum(col("x").cast("double").cast(Dec)).cast("double") /
        count(lit(1))).cast(Dec), 6).cast(Out6).as("centroid"))
      .orderBy("label", "d")

  def labelCentroidsSql: String =
    s"""WITH ex AS (
       |  SELECT label, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |)
       |SELECT label, d,
       |  CAST(round(CAST(CAST(SUM(CAST(x AS DECIMAL(32,16))) AS DOUBLE) / COUNT(*)
       |    AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS centroid
       |FROM ex GROUP BY label, d ORDER BY label, d""".stripMargin

  // -------------------------------------------------------- PCA (power)

  /** s18: principal direction of the embedding corpus by power
    * iteration — the drift/collapse diagnostic an embedding pipeline
    * monitors (a dominating first component means the space is
    * collapsing; comparing directions across snapshots detects drift).
    * Fully deterministic and oracle-checked: per-dim means are the s6
    * exact-decimal discipline, the centered covariance accumulates
    * IEEE products through DECIMAL(32,16) sums (order-independent),
    * and each iteration is one 64×64 mat-vec with the same per-term
    * decimal quantization (L1 normalization — no cross-engine sqrt).
    *
    * Scale: the one corpus-sized stage is the covariance — the
    * vec_id-keyed self-join emits dims²/2 rows per vector (symmetric:
    * only d1 ≤ d2 joins, the triangle mirrors after) but
    * partial-aggregates to dims² totals map-side. C itself is a
    * dims×dims METADATA frame, so the iterations run driver-side on
    * the collected matrix — the clusterCenters precedent, with
    * BigDecimal accumulation mirroring the oracle's decimal sums
    * bit-exactly.
    *
    * Dispatch (VERDICT r9 #3): the collected-matrix shape is only
    * valid while dims² is metadata, so this entry point routes by
    * embedding width — at or below [[PcaCollectMaxDims]] it collects C
    * (the simpler, fully-oracle-checkable shape; s18's default), above
    * it it routes to [[pcaPowerMatVec]], which never materializes C.
    * The two paths are spec-pinned equivalent at dims = 64, and the
    * dispatch itself is spec-pinned, so a wide-embedding corpus can
    * never reach the driver-side dims² collect. */
  def pcaPower(emb: DataFrame, iters: Int = 3, dims: Int = Dims): DataFrame =
    if (dims <= PcaCollectMaxDims) pcaPowerCollected(emb, iters, dims)
    else pcaPowerMatVec(emb, iters, dims)

  /** Widest embedding for which [[pcaPower]] collects the dims²
    * covariance driver-side: 1024² doubles = 8 MB of metadata, the same
    * order as a collected k-means centroid set; 2048² (32 MB) is no
    * longer metadata. */
  private[similarity] val PcaCollectMaxDims = 1024

  private[similarity] def pcaPowerCollected(emb: DataFrame, iters: Int, dims: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val exId = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"), col("x").cast("double").as("x"))
    val mu = exId.groupBy("d")
      .agg(round((sum(col("x").cast(Dec)).cast("double") / count(lit(1))).cast(Dec), 6)
        .cast(Out6).as("mu"))
    // dims rounded means — a metadata collect (the cMat precedent below)
    val muArr = new Array[Double](dims)
    mu.collect().foreach(r =>
      muArr(r.getInt(0)) = r.getAs[java.math.BigDecimal](1).doubleValue)
    // ONE-PASS upper-triangle covariance (round 11): each partition
    // folds its vectors into dims·(dims+1)/2 exact decimal sums —
    // per product, double multiply then the Exact16 quantization
    // (BigDecimal.valueOf + setScale(16, HALF_UP), in a long), the SAME
    // quantization the old
    // explode→self-join→`(xc·xc).cast(DECIMAL(32,16))`→sum plan and the
    // oracle's SUM(CAST(x AS DECIMAL(32,16))) apply, and exact adds are
    // order-independent, so the totals are bit-identical to that plan
    // (spec-pinned: the matvec-parity and driver-reference tests) while
    // the corpus-sized n·dims² row explosion, its shuffle, and two
    // checkpoints all disappear. ≤ numShufflePartitions partial rows of
    // triangle strings reach the driver — metadata, like cMat itself.
    // The spread widens the exact-decimal fold (NOTES round-11
    // rule: repartition before exact-decimal kernels — measured 8× on
    // s20; never before cheap text expressions; width-gated no-op once
    // the scan is already at session parallelism).
    val partials = spread(emb)
      .select(transform(col("embedding"), (x, i) =>
        x.cast("double") - element_at(lit(muArr), i + 1)).as("xc"))
      .as[Array[Double]]
      .mapPartitions { it =>
        val m = dims * (dims + 1) / 2
        val acc = Array.fill(m)(new Exact16.Sum("pcaPower"))
        it.foreach { v =>
          var idx = 0
          var i = 0
          while (i < dims) {
            var j = i
            while (j < dims) {
              acc(idx).add(v(i) * v(j), j)
              idx += 1; j += 1
            }
            i += 1
          }
        }
        Iterator.single(acc.map(_.toBigDecimal.toPlainString))
      }.collect()
    // C is a dims×dims METADATA matrix (4096 doubles) — the iterations
    // run driver-side on the merged triangle (the clusterCenters
    // precedent; the distributed formulation spent ~5 s of pure 64-row
    // job latency per bench run).
    val cMat = Array.ofDim[Double](dims, dims)
    locally {
      val m = dims * (dims + 1) / 2
      val tot = Array.fill(m)(java.math.BigDecimal.ZERO)
      partials.foreach { p =>
        var t = 0
        while (t < m) { tot(t) = tot(t).add(new java.math.BigDecimal(p(t))); t += 1 }
      }
      var idx = 0
      var i = 0
      while (i < dims) {
        var j = i
        while (j < dims) {
          val c = tot(idx).doubleValue()
          cMat(i)(j) = c; cMat(j)(i) = c
          idx += 1; j += 1
        }
        i += 1
      }
    }
    // Exact16 rounds valueOf's shortest-string repr, not the exact binary
    // expansion (`new BigDecimal(x)`): DuckDB's CAST(x AS DECIMAL(32,16))
    // rounds the exact value, so a double whose 17th significant digit
    // straddles a rounding boundary could differ by 1 ulp at scale 16
    // (ADVICE r7 — accepted). valueOf is kept deliberately: it matches
    // SPARK's own double→decimal cast (Decimal.apply goes through the
    // string repr), so the driver-checked engine/oracle pair (s18 vs its
    // SQL) is the one place the discrepancy could surface — and it is
    // hash-green at both SFs; covariance entries are sums of ≤1e4
    // products, far from the 17-digit boundary in practice.
    var v = Array.fill(dims)(1.0 / dims)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dims) { i =>
        val acc = new Exact16.Sum("pcaPower")
        var j = 0
        while (j < dims) { acc.add(cMat(i)(j) * v(j), j); j += 1 }
        acc.toDouble
      }
      val nAcc = new Exact16.Sum("pcaPower")
      var d = 0
      while (d < dims) { nAcc.add(math.abs(w(d)), d); d += 1 }
      val n = nAcc.toDouble
      v = w.map(_ / n)
    }
    import spark.implicits._
    v.zipWithIndex.map { case (x, d) => (d, x) }.toSeq.toDF("d", "v")
      .select(col("d"), round(col("v"), 6).cast(Out6).as("loading"))
      .orderBy("d")
  }

  def pcaPowerSql(iters: Int = 3): String = {
    val base =
      s"""WITH ex AS (
         |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
         |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
         |), mu AS (
         |  SELECT d, CAST(round(CAST(CAST(SUM(CAST(x AS DECIMAL(32,16))) AS DOUBLE) / COUNT(*)
         |    AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS mu
         |  FROM ex GROUP BY d
         |), cen AS (
         |  SELECT vec_id, ex.d, x - CAST(mu AS DOUBLE) AS xc FROM ex JOIN mu USING (d)
         |), cov AS (
         |  SELECT a.d AS d1, b.d AS d2,
         |    CAST(SUM(CAST(a.xc * b.xc AS DECIMAL(32,16))) AS DOUBLE) AS c
         |  FROM cen a JOIN cen b USING (vec_id) GROUP BY a.d, b.d
         |), v0 AS (
         |  SELECT u.d, CAST(${1.0 / Dims} AS DOUBLE) AS v FROM UNNEST(range($Dims)) AS u(d))""".stripMargin
    val itersSql = (1 to iters).map { i =>
      s"""w$i AS (
         |  SELECT d1 AS d, CAST(SUM(CAST(c * v.v AS DECIMAL(32,16))) AS DOUBLE) AS w
         |  FROM cov JOIN v${i - 1} v ON cov.d2 = v.d GROUP BY d1),
         |n$i AS (SELECT CAST(SUM(CAST(ABS(w) AS DECIMAL(32,16))) AS DOUBLE) AS n FROM w$i),
         |v$i AS (SELECT d, w / t.n AS v FROM w$i, n$i t)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$itersSql
       |SELECT d, CAST(round(v, 6) AS DECIMAL(18,6)) AS loading
       |FROM v$iters ORDER BY d""".stripMargin
  }

  /** Distributed mat-vec power iteration — the dims ≫ 10³ path the
    * [[pcaPower]] scaladoc documents (VERDICT r7 #7), now implemented:
    * C·v = Σ_rows xc·(xc·v), which never materializes the dims×dims
    * covariance at all. Each iteration is two corpus-sized equi-joins
    * with map-side partial aggregation — (1) per-row scalar
    * s_r = Σ_d xc·v via a BROADCAST of v (dims rows), (2)
    * w_d = Σ_r xc·s_r grouped by d — so cluster state per iteration is
    * O(corpus), never O(dims²). Per-term decimal quantization keeps
    * every shuffle sum order-independent, same as the collected-matrix
    * path.
    *
    * s18 keeps the collected path by default (at dims = 64 the
    * 64×64 matrix is metadata and fully oracle-checkable); this variant
    * is spec-pinned equivalent to it at dims = 64
    * ([[graft.similarity.SimilaritySpec]]) and is where [[pcaPower]]
    * routes when the embedding width makes dims² a real matrix. */
  def pcaPowerMatVec(emb: DataFrame, iters: Int = 3, dims: Int = Dims): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val exId = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"), col("x").cast("double").as("x"))
      .loopCheckpoint(true)
    val mu = exId.groupBy("d")
      .agg(round((sum(col("x").cast(Dec)).cast("double") / count(lit(1))).cast(Dec), 6)
        .cast(Out6).as("mu"))
    val centered = exId.join(broadcast(mu), "d")
      .select(col("vec_id"), col("d"),
        (col("x") - col("mu").cast("double")).as("xc"))
      .loopCheckpoint(true) // reused twice per iteration
    var v: DataFrame = (0 until dims).map(d => (d, 1.0 / dims)).toDF("d", "v")
      .loopCheckpoint(true)
    for (_ <- 1 to iters) {
      val s = centered.join(broadcast(v), "d")
        .select(col("vec_id"), (col("xc") * col("v")).cast(Dec).as("t"))
        .groupBy("vec_id").agg(sum("t").cast("double").as("s"))
      val w = centered.join(s, "vec_id")
        .select(col("d"), (col("xc") * col("s")).cast(Dec).as("t"))
        .groupBy("d").agg(sum("t").cast("double").as("w"))
      val n = w.agg(sum(abs(col("w")).cast(Dec)).cast("double").as("n"))
      v = w.crossJoin(broadcast(n))
        .select(col("d"), (col("w") / col("n")).as("v"))
        .loopCheckpoint(true)
    }
    v.select(col("d"), round(col("v"), 6).cast(Out6).as("loading")).orderBy("d")
  }

  // ------------------------------------------------------------ registry

  // ------------------------------------------------------------ batch kNN

  /** Batched top-k — the production retrieval shape: a BATCH of query
    * vectors scored in ONE corpus pass. The query batch (vectors +
    * norms) is broadcast; corpus norms are computed in a projection
    * BELOW the broadcast join — once per vector, no shuffle (joining a
    * separate norms frame would shuffle the corpus by vec_id for
    * nothing); per-query top-k is a rank window PARTITIONED BY query
    * id, so each query ranks its own candidates and no global sort
    * exists. At cluster scale the same
    * plan holds with a 10⁴-query batch: the broadcast is |Q|·Dims
    * floats, the corpus is read once, and the window sort is per-query.
    * (For very large k·|Q|, [[graft.functions.TopKAggregator]] is the
    * O(k)-state no-sort alternative; the window form is the
    * oracle-checkable baseline.) */
  def knnBatch(emb: DataFrame, queryIds: Seq[Long], k: Int = 5): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        norm2Col(col("embedding")).as("qnorm2"))
    val scored = emb.withColumn("norm2", norm2Col(col("embedding")))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(col("norm2")) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).drop("rk")
      .orderBy(asc("qid"), desc("cos"), asc("vec_id"))
  }

  def knnBatchSql(queryIds: Seq[Long], k: Int = 5): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), q AS (SELECT vec_id AS qid, d, x AS qx FROM ex WHERE vec_id IN ($ids)),
       |qn AS (SELECT vec_id AS qid, norm2 AS qnorm2 FROM norms WHERE vec_id IN ($ids)),
       |dots AS (
       |  SELECT q.qid, ex.vec_id,
       |         CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN q USING (d) WHERE ex.vec_id != q.qid
       |  GROUP BY q.qid, ex.vec_id
       |), scored AS (
       |  SELECT d.qid, d.vec_id,
       |    CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |  FROM dots d JOIN norms n USING (vec_id) JOIN qn ON d.qid = qn.qid
       |), rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS r
       |  FROM scored
       |)
       |SELECT qid, vec_id, cos FROM rk WHERE r <= $k
       |ORDER BY qid ASC, cos DESC, vec_id ASC""".stripMargin
  }

  // --------------------------------------------------- hard negatives

  /** Hard-negative mining — the contrastive-training data-prep shape:
    * for each query vector, the top-k most similar vectors whose LABEL
    * differs (nearest wrong-class examples; random negatives are too
    * easy, same-label neighbors are positives). Identical plan skeleton
    * to [[knnBatch]] — query batch broadcast (now carrying its label),
    * corpus norms computed below the join, per-query rank window — plus
    * one label-inequality predicate INSIDE the broadcast join, so
    * same-label rows are dropped before any dot product is computed.
    * The per-query self row is excluded by that same predicate. At
    * cluster scale the label filter costs nothing (it rides the
    * existing join) and the mined pairs stream straight into a
    * contrastive batch builder. */
  def hardNegatives(emb: DataFrame, queryIds: Seq[Long], k: Int = 5): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    val scored = emb.withColumn("norm2", norm2Col(col("embedding")))
      .crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(col("norm2")) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).drop("rk")
      .orderBy(asc("qid"), desc("cos"), asc("vec_id"))
  }

  def hardNegativesSql(queryIds: Seq[Long], k: Int = 5): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), lab AS (SELECT vec_id, label FROM embeddings),
       |q AS (
       |  SELECT ex.vec_id AS qid, l.label AS qlabel, ex.d, ex.x AS qx
       |  FROM ex JOIN lab l USING (vec_id) WHERE ex.vec_id IN ($ids)
       |), qn AS (SELECT vec_id AS qid, norm2 AS qnorm2 FROM norms WHERE vec_id IN ($ids)),
       |dots AS (
       |  SELECT q.qid, ex.vec_id, any_value(l.label) AS label,
       |         CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN lab l USING (vec_id) JOIN q USING (d)
       |  WHERE l.label != q.qlabel
       |  GROUP BY q.qid, ex.vec_id
       |), scored AS (
       |  SELECT d.qid, d.vec_id, d.label,
       |    CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |  FROM dots d JOIN norms n USING (vec_id) JOIN qn ON d.qid = qn.qid
       |), rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS r
       |  FROM scored
       |)
       |SELECT qid, vec_id, label, cos FROM rk WHERE r <= $k
       |ORDER BY qid ASC, cos DESC, vec_id ASC""".stripMargin
  }

  // ---------------------------------------------------------- NDCG@k eval

  /** Per-rank discounted gains 1/log₂(r+1), rounded to 6 dp — computed
    * ONCE in Scala and interpolated as identical literals into both the
    * engine plan and the oracle SQL (the g11 teleport-constant rule:
    * never let two engines each call libm). */
  private def ndcgGains(k: Int): Seq[java.math.BigDecimal] =
    (1 to k).map { r =>
      java.math.BigDecimal.valueOf(1.0 / (math.log(r + 1.0) / math.log(2.0)))
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
  private def ndcgCumGains(k: Int): Seq[java.math.BigDecimal] =
    ndcgGains(k).scanLeft(java.math.BigDecimal.ZERO.setScale(6))(_.add(_)).tail

  /** m17: NDCG@k of cosine retrieval against label relevance — the
    * ranking-quality metric for the ANN family (pairs with m15's AUC on
    * the classifier side): for each query vector, rank the whole corpus
    * by exact cosine, score rel=1 where the candidate shares the
    * query's label, and report DCG@k over the ideal DCG. One corpus
    * pass scores all queries ([[knnBatch]] skeleton); the rank window
    * partitions by query; gains/cumulative-gains are 6-dp decimal
    * literals so DCG/IDCG are exact decimal sums — the only double op
    * is the final ratio through the standard round→DECIMAL cast.
    * Queries whose label has no other member (IDCG=0) guard to 0 with
    * the CASE inside the decimal cast. */
  def ndcgAtK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val zero = java.math.BigDecimal.ZERO.setScale(6)
    val gainArr = array(ndcgGains(k).map(lit): _*)
    val cumArr = array(ndcgCumGains(k).map(lit): _*)
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    val scored = emb.withColumn("norm2", norm2Col(col("embedding")))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(col("norm2")) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
    val rel = col("label") === col("qlabel")
    val per = scored.withColumn("rk", row_number().over(w))
      .groupBy("qid")
      .agg(sum(rel.cast("long")).cast("long").as("n_rel_total"),
        sum(when(col("rk") <= k && rel, lit(1L)).otherwise(lit(0L)))
          .cast("long").as("n_rel_at_k"),
        sum(when(col("rk") <= k && rel,
          element_at(gainArr, col("rk").cast("int"))).otherwise(lit(zero)))
          .cast(Out6).as("dcg"))
    per
      .withColumn("idcg",
        when(col("n_rel_total") > 0,
          element_at(cumArr, least(lit(k), col("n_rel_total")).cast("int")))
          .otherwise(lit(zero)).cast(Out6))
      .select(col("qid"), col("n_rel_total"), col("n_rel_at_k"),
        col("dcg"), col("idcg"),
        when(col("idcg") > 0,
          round(col("dcg").cast("double") / col("idcg").cast("double"), 6))
          .otherwise(lit(0.0)).cast(Out6).as("ndcg"))
      .orderBy("qid")
  }

  def ndcgAtKSql(queryIds: Seq[Long], k: Int = 10): String = {
    val ids = queryIds.mkString(", ")
    val gains = ndcgGains(k).map(_.toPlainString).mkString("[", ", ", "]")
    val cum = ndcgCumGains(k).map(_.toPlainString).mkString("[", ", ", "]")
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), lab AS (SELECT vec_id, label FROM embeddings),
       |q AS (
       |  SELECT ex.vec_id AS qid, l.label AS qlabel, ex.d, ex.x AS qx
       |  FROM ex JOIN lab l USING (vec_id) WHERE ex.vec_id IN ($ids)
       |), qn AS (SELECT vec_id AS qid, norm2 AS qnorm2 FROM norms WHERE vec_id IN ($ids)),
       |dots AS (
       |  SELECT q.qid, any_value(q.qlabel) AS qlabel, ex.vec_id,
       |         any_value(l.label) AS label,
       |         CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN lab l USING (vec_id) JOIN q USING (d)
       |  WHERE ex.vec_id != q.qid
       |  GROUP BY q.qid, ex.vec_id
       |), ranked AS (
       |  SELECT d.qid, d.qlabel, d.vec_id, d.label,
       |    row_number() OVER (PARTITION BY d.qid ORDER BY
       |      CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) DESC,
       |      d.vec_id ASC) AS rk
       |  FROM dots d JOIN norms n USING (vec_id) JOIN qn ON d.qid = qn.qid
       |), per AS (
       |  SELECT qid,
       |    CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_total,
       |    CAST(SUM(CASE WHEN rk <= $k AND label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_at_k,
       |    CAST(SUM(CASE WHEN rk <= $k AND label = qlabel
       |              THEN ($gains)[rk] ELSE CAST(0 AS DECIMAL(18,6)) END)
       |         AS DECIMAL(18,6)) AS dcg
       |  FROM ranked GROUP BY qid
       |), fin AS (
       |  SELECT qid, n_rel_total, n_rel_at_k, dcg,
       |    CAST(CASE WHEN n_rel_total > 0
       |         THEN ($cum)[least($k, n_rel_total)]
       |         ELSE CAST(0 AS DECIMAL(18,6)) END AS DECIMAL(18,6)) AS idcg
       |  FROM per
       |)
       |SELECT qid, n_rel_total, n_rel_at_k, dcg, idcg,
       |  CAST(CASE WHEN idcg > 0
       |       THEN round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
       |       ELSE 0.0 END AS DECIMAL(18,6)) AS ndcg
       |FROM fin ORDER BY qid""".stripMargin
  }

  // -------------------------------------------------------- int8 quantized

  /** Scalar-quantized (int8) retrieval — the compression scale path:
    * each vector is normalized to unit length, then every element is
    * mapped to a symmetric integer code `round(u·127)` ∈ [−127, 127],
    * and ranking uses the INTEGER dot product of the code vectors —
    * ≈ 127²·cosine, with no per-vector offset term polluting the order
    * (an asymmetric 0..255 code would add Σu terms that break cosine
    * ranking; measured 0/10 recall that way vs 9-10/10 this way).
    *
    * At 100 TB this is the difference between shipping 4-byte floats
    * and 1-byte codes — 4× less scan I/O and SIMD-friendly integer
    * accumulation; recall vs exact cosine is checked in SimilaritySpec
    * rather than assumed.
    *
    * Determinism: the norm is the exact decimal kernel shared with
    * every operator here, sqrt/divide are correctly-rounded IEEE ops,
    * round-half-away-from-zero agrees across engines for both signs,
    * and everything after quantization is integer arithmetic — no
    * decimal needed in the hot ranking loop, which is exactly the
    * operational win quantization buys. */
  def annInt8(emb: DataFrame, queryId: Long, k: Int = 10): DataFrame = {
    graft.functions.QuantizeInt8.register(emb.sparkSession)
    graft.functions.VectorDotLong.register(emb.sparkSession)
    // quantization and ranking both run through codegen'd kernels
    // (Int8Kernels.scala): the previous lambda formulation
    // `transform(e, x => round(x/nrm*127, 0))` was a 64× blowup —
    // CollapseProject inlines the `nrm` alias into the lambda, so the
    // exact-decimal norm re-ran per ELEMENT (measured 4.0 s of s8's
    // 4.5 s at sf0.1; ~0.4 s with the kernels). Semantics unchanged.
    def quantize(e: DataFrame): DataFrame = e
      .select(col("vec_id"),
        graft.functions.QuantizeInt8(col("embedding")).as("qvec"))
    // the query row quantizes from its own PUSHED-DOWN 1-row scan
    // (vec_id = queryId reaches the parquet reader), so the corpus-wide
    // quantization below runs exactly once — sharing one frame between
    // the broadcast branch and the scan would recompute the corpus twice
    // (or force checkpointing the full quantized corpus, wrong at scale)
    val q = quantize(emb.filter(col("vec_id") === queryId))
      .select(col("qvec").as("qq"))
    quantize(emb.filter(col("vec_id") =!= queryId))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VectorDotLong(col("qvec"), col("qq")).as("qdot"))
      .orderBy(desc("qdot"), asc("vec_id"))
      .limit(k)
  }

  def annInt8Sql(queryId: Long, k: Int = 10): String =
    s"""WITH ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE)) AS nrm
       |  FROM ex GROUP BY vec_id
       |), qt AS (
       |  SELECT ex.vec_id, d, CAST(round(x / nrm * 127.0) AS BIGINT) AS qx
       |  FROM ex JOIN norms USING (vec_id)
       |), q AS (SELECT d, qx AS qq FROM qt WHERE vec_id = $queryId),
       |dots AS (
       |  SELECT qt.vec_id, CAST(SUM(qt.qx * q.qq) AS BIGINT) AS qdot
       |  FROM qt JOIN q USING (d) WHERE qt.vec_id != $queryId
       |  GROUP BY qt.vec_id)
       |SELECT vec_id, qdot FROM dots
       |ORDER BY qdot DESC, vec_id ASC LIMIT $k""".stripMargin

  // ------------------------------------------------- centroid assignment

  /** s9: nearest-centroid classification — every vector assigned to the
    * label whose s6 centroid is closest in L2 (the rocchio/prototype
    * classifier, and the assignment step of one Lloyd iteration if the
    * centroids were cluster means). Emits per-vector (true label,
    * predicted label, correct) so the query doubles as the classifier's
    * accuracy surface.
    *
    * Plan shape: centroids are a labels×dims aggregate collapsed to one
    * double array per label (|L| rows, broadcast); each vector computes
    * |v|² once in a projection below the broadcast join, dist² then
    * costs one [[VectorDotExact]] dot per (vector, label) via
    * ‖v−c‖² = |v|² − 2·v·c + |c|², and argmin is a rank window
    * partitioned by vec_id — one corpus scan, no shuffle wider than
    * |V|·|L| narrow rows, no global sort. All three dist² terms flow
    * through the engine's exact decimal dot kernel, so the doubles
    * being compared are bit-identical to the oracle's. */
  def centroidAssign(emb: DataFrame): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val cents = labelCentroids(emb)
      .groupBy(col("label").as("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("centroid")))),
        s => s.getField("centroid").cast("double")).as("ce"))
      .select(col("clabel"), col("ce"), dotCol(col("ce"), col("ce")).as("cnorm2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(asc("dist2"), asc("clabel"))
    spread(emb).withColumn("norm2", norm2Col(col("embedding")))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        (col("norm2") - lit(2) * dotCol(col("embedding"), col("ce")) +
          col("cnorm2")).as("dist2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("clabel").as("pred"),
        (col("clabel") === col("label")).cast("long").as("correct"))
      .orderBy("vec_id")
  }

  /** Oracle for [[centroidAssign]]: s6's centroid CTE, then the same
    * dist² identity from the same decimal-quantized sums. */
  def centroidAssignSql: String =
    s"""WITH cents AS (
       |  ${labelCentroidsSql.replace("\n", "\n  ")}
       |), cent AS (
       |  SELECT label AS clabel, d, CAST(centroid AS DOUBLE) AS c FROM cents
       |), cn AS (
       |  SELECT clabel, CAST(SUM(CAST(c * c AS DECIMAL(32,16))) AS DOUBLE) AS cnorm2
       |  FROM cent GROUP BY clabel
       |), ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), vn AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), dots AS (
       |  SELECT ex.vec_id, cent.clabel,
       |    CAST(SUM(CAST(ex.x * cent.c AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN cent USING (d) GROUP BY ex.vec_id, cent.clabel
       |), dist AS (
       |  SELECT d.vec_id, d.clabel, vn.norm2 - 2 * d.dot + cn.cnorm2 AS dist2
       |  FROM dots d JOIN vn USING (vec_id) JOIN cn ON cn.clabel = d.clabel
       |), best AS (
       |  SELECT vec_id, clabel FROM (
       |    SELECT vec_id, clabel,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, clabel ASC) AS rk
       |    FROM dist) WHERE rk = 1
       |)
       |SELECT e.vec_id, e.label, b.clabel AS pred,
       |  CAST(CASE WHEN b.clabel = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM embeddings e JOIN best b USING (vec_id) ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ unrolled KMeans

  /** KMeans (Lloyd) with every iteration DuckDB-oracle-checked — unlike
    * s4's sampled quantizer fit (persisted-fit oracle), this clustering
    * is deterministic end to end, so the oracle re-derives the full
    * algorithm: init centroids are the k lowest vec_ids' vectors,
    * assignment is s9's exact dist² identity (|v|²−2v·c+|c|² through
    * the decimal dot kernel, rank-window argmin with cid tie-break),
    * and the update step is s6's decimal-quantized per-dim mean rounded
    * to 6 dp — both engines iterate on byte-identical centroids, so the
    * final assignment hash-matches.
    *
    * 100 TB shape per iteration: centroids are k×dims (tiny, broadcast);
    * assignment is one corpus scan; the update explodes assigned rows to
    * (cluster, dim) — labels×dims rows reach the shuffle, the same
    * "exploding is right here" argument as s6. The input frame with its
    * norm is localCheckpoint'd once and reused by every iteration (the
    * standard cache posture for iterative ML — same as the Graph loops).
    */
  def kmeans(emb: DataFrame, k: Int = 4, iters: Int = 2): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    // no spread() here: measured SLOWER at the registered k=4 (1.2 →
    // 1.6 s medians — per-row work is k·dims dots, too small to
    // amortize 32-way task overhead at gate scale). s20Index, whose k
    // is ⌈√n⌉, spreads its own base — that is the regime where the
    // exchange pays.
    val base = emb
      .select(col("vec_id"), col("embedding"), norm2Col(col("embedding")).as("norm2"))
      .loopCheckpoint(true)
    // init: the k lowest vec_ids' raw vectors as double arrays
    var cents = base.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
      .select(col("cid"), col("ce"), dotCol(col("ce"), col("ce")).as("cnorm2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(asc("dist2"), asc("cid"))
    def assign(c: DataFrame): DataFrame = base
      .crossJoin(broadcast(c))
      .select(col("vec_id"), col("cid"),
        (col("norm2") - lit(2) * dotCol(col("embedding"), col("ce")) +
          col("cnorm2")).as("dist2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"))
    for (_ <- 1 until iters) {
      val a = assign(cents)
      cents = base.join(a, "vec_id")
        .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("cid", "d")
        .agg(round((sum(col("x").cast("double").cast(Dec)).cast("double") /
          count(lit(1))).cast(Dec), 6).cast(Out6).as("c"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
          s => s.getField("c").cast("double")).as("ce"))
        .select(col("cid"), col("ce"), dotCol(col("ce"), col("ce")).as("cnorm2"))
    }
    assign(cents)
      .select(col("vec_id"), col("cid").as("cluster"))
      .orderBy("vec_id")
  }

  /** Oracle for [[kmeans]]: the Lloyd rounds unrolled as CTEs — init from
    * the k lowest vec_ids, then per round the s9 dist² CTEs and the s6
    * mean CTE, ending in the final assignment. */
  def kmeansSql(k: Int = 4, iters: Int = 2): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ex AS (
              |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
              |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
              |), vn AS (
              |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
              |  FROM ex GROUP BY vec_id
              |), cent0 AS (
              |  SELECT vec_id AS cid, d, x AS c FROM ex WHERE vec_id < $k
              |)""".stripMargin
    for (i <- 0 until iters) {
      sb ++= s""",
                |cn$i AS (
                |  SELECT cid, CAST(SUM(CAST(c * c AS DECIMAL(32,16))) AS DOUBLE) AS cnorm2
                |  FROM cent$i GROUP BY cid
                |), dot$i AS (
                |  SELECT ex.vec_id, c.cid,
                |    CAST(SUM(CAST(ex.x * c.c AS DECIMAL(32,16))) AS DOUBLE) AS dot
                |  FROM ex JOIN cent$i c USING (d) GROUP BY ex.vec_id, c.cid
                |), best$i AS (
                |  SELECT vec_id, cid FROM (
                |    SELECT dt.vec_id, dt.cid,
                |      row_number() OVER (PARTITION BY dt.vec_id
                |        ORDER BY vn.norm2 - 2 * dt.dot + cn.cnorm2 ASC, dt.cid ASC) AS rk
                |    FROM dot$i dt JOIN vn USING (vec_id) JOIN cn$i cn USING (cid)) t
                |  WHERE rk = 1
                |)""".stripMargin
      if (i < iters - 1)
        sb ++= s""",
                  |cent${i + 1} AS (
                  |  SELECT b.cid, ex.d,
                  |    CAST(CAST(round(CAST(CAST(SUM(CAST(ex.x AS DECIMAL(32,16))) AS DOUBLE) / COUNT(*)
                  |      AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS DOUBLE) AS c
                  |  FROM ex JOIN best$i b USING (vec_id) GROUP BY b.cid, ex.d
                  |)""".stripMargin
    }
    sb ++= s"""
              |SELECT vec_id, cid AS cluster FROM best${iters - 1} ORDER BY vec_id""".stripMargin
    sb.toString
  }

  /** s27: simplified silhouette — the cluster-quality score an embedding
    * pipeline gates a re-clustering on (Rousseeuw's silhouette with the
    * standard centroid simplification: a = dist to OWN centroid, b =
    * dist to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1];
    * per-point neighbor sets — the O(n²) exact form — never
    * materialize). Assignments and final centroids reuse [[kmeans]]'s
    * exact recipe verbatim, so s27 scores exactly the clustering s10
    * registers.
    *
    * Scale shape: centroids are k rows broadcast; the per-point pass is
    * one scan × k distance kernels (the s9 dist² identity on the shared
    * exact-decimal dot), and the output is one k-row grouped aggregate.
    * Determinism: dist² can be −ε in doubles when a point IS its
    * centroid — clamped ≥ 0 before the (IEEE-exactly-rounded) sqrt on
    * both engines; per-point s is one identical-shape double expression
    * rounded to 6 dp at birth; cluster means are exact-decimal sums over
    * those. Singleton clusters score s = 1 (a = 0), the simplified
    * form's documented convention. */
  def silhouette(emb: DataFrame, k: Int = 4, iters: Int = 2): DataFrame =
    silhouetteFrom(emb, kmeans(emb, k, iters))

  /** One memoized Lloyd run (assignment only) serves s10 AND s27. */
  private def cachedKmeans(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"kmeans_assign:4:2:${Tables.norm(dir)}")(
      kmeans(Tables.embeddings(s, dir)))

  /** [[silhouette]] over a PRE-COMPUTED assignment — so the registry can
    * share one memoized Lloyd run between s10 and s27 (round 16; the
    * assignment is a bounded (vec_id, cluster) frame, well inside the
    * Materialized small-frame policy). */
  def silhouetteFrom(emb: DataFrame, assign: DataFrame): DataFrame = {
    VectorDotExact.register(emb.sparkSession)
    val base = emb
      .select(col("vec_id"), col("embedding"), norm2Col(col("embedding")).as("norm2"))
      .join(assign, "vec_id")
      .loopCheckpoint(true) // feeds the centroid build AND the dist scan
    val cents = base
      .select(col("cluster").as("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("cid", "d")
      .agg(round((sum(col("x").cast("double").cast(Dec)).cast("double") /
        count(lit(1))).cast(Dec), 6).cast(Out6).as("c"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c").cast("double")).as("ce"))
      .select(col("cid"), col("ce"), dotCol(col("ce"), col("ce")).as("cnorm2"))
    val dists = base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cluster"), col("cid"),
        greatest(col("norm2") - lit(2) * dotCol(col("embedding"), col("ce")) +
          col("cnorm2"), lit(0.0)).as("dist2"))
    val ab = dists.groupBy("vec_id", "cluster")
      .agg(min(when(col("cid") === col("cluster"), col("dist2"))).as("a2"),
        min(when(col("cid") =!= col("cluster"), col("dist2"))).as("b2"))
    // b2 is NULL when only one cluster is populated (degenerate corpus):
    // no "other" centroid exists, so s = 0 — the convention both engines
    // must share explicitly (null-propagation through GREATEST differs)
    val perPoint = ab.select(col("cluster"),
      when(col("b2").isNull ||
          greatest(sqrt(col("a2")), sqrt(col("b2"))) === lit(0.0),
        lit(java.math.BigDecimal.ZERO).cast(Out6))
        .otherwise(round((sqrt(col("b2")) - sqrt(col("a2"))) /
          greatest(sqrt(col("a2")), sqrt(col("b2"))), 6).cast(Out6)).as("s"))
    perPoint.groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6).cast(Out6).as("mean_s"))
      .orderBy("cluster")
  }

  /** DuckDB oracle for [[silhouette]]: [[kmeansSql]]'s CTE chain as a
    * subquery for the assignment, then the same final-centroid mean,
    * dist² identity, clamp, sqrt, and per-cluster roll-up. */
  def silhouetteSql(k: Int = 4, iters: Int = 2): String =
    s"""WITH assign AS (
       |  SELECT vec_id, cluster FROM (${kmeansSql(k, iters).replace("\n", "\n  ")}) q
       |), ex AS (
       |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
       |), vn AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), centf AS (
       |  SELECT a.cluster AS cid, ex.d,
       |    CAST(CAST(round(CAST(CAST(SUM(CAST(ex.x AS DECIMAL(32,16))) AS DOUBLE) / COUNT(*)
       |      AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS DOUBLE) AS c
       |  FROM ex JOIN assign a USING (vec_id) GROUP BY a.cluster, ex.d
       |), cnf AS (
       |  SELECT cid, CAST(SUM(CAST(c * c AS DECIMAL(32,16))) AS DOUBLE) AS cnorm2
       |  FROM centf GROUP BY cid
       |), dotf AS (
       |  SELECT ex.vec_id, c.cid,
       |    CAST(SUM(CAST(ex.x * c.c AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN centf c USING (d) GROUP BY ex.vec_id, c.cid
       |), dist AS (
       |  SELECT dt.vec_id, a.cluster, dt.cid,
       |    GREATEST(vn.norm2 - 2 * dt.dot + cn.cnorm2, 0.0) AS dist2
       |  FROM dotf dt JOIN vn USING (vec_id) JOIN cnf cn USING (cid)
       |  JOIN assign a USING (vec_id)
       |), ab AS (
       |  SELECT vec_id, cluster,
       |    MIN(CASE WHEN cid = cluster THEN dist2 END) AS a2,
       |    MIN(CASE WHEN cid != cluster THEN dist2 END) AS b2
       |  FROM dist GROUP BY vec_id, cluster
       |), pp AS (
       |  SELECT cluster,
       |    CASE WHEN b2 IS NULL OR GREATEST(sqrt(a2), sqrt(b2)) = 0.0
       |           THEN CAST(0 AS DECIMAL(18,6))
       |         ELSE CAST(round((sqrt(b2) - sqrt(a2)) / GREATEST(sqrt(a2), sqrt(b2)), 6)
       |           AS DECIMAL(18,6)) END AS s
       |  FROM ab
       |)
       |SELECT cluster, count(*) AS n,
       |  CAST(round(CAST(SUM(s) AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS mean_s
       |FROM pp GROUP BY cluster ORDER BY cluster""".stripMargin

  // ------------------------------------------- incremental assignment

  /** s20: incremental vector-assignment ingest — d21's between-runs
    * discipline at the embedding layer. The corpus side (vec_id % 5 ≠ 0)
    * PERSISTS its coarse-quantizer state to the Artifacts namespace: the
    * Lloyd centroid frame ([[kmeans]]'s deterministic recipe restricted
    * to corpus rows, init = the k lowest corpus vec_ids) and the
    * assignment-partitioned vector index (vec_id, cid, embedding, norm2
    * — exactly what an IVF shard stores between runs, laid out
    * partitionBy(cid) so per-cell reads partition-prune). The delta
    * (vec_id % 5 = 0 — the nightly embedding batch) then:
    *
    *  1. assigns each new vector to its nearest persisted centroid
    *     (broadcast k-row centroid frame, s9's exact-decimal dist²
    *     identity, argmin rank window) — never refits;
    *  2. near-dup-checks each new vector ONLY against corpus vectors in
    *     its own cell (the cid equi-join bounds candidates to one cell's
    *     population, never delta × corpus), flagging exact cosine ≥ tau;
    *  3. emits (vec_id, centroid, fate admitted | near_dup_of_corpus).
    *
    * 100 TB posture: the only corpus-sized work happened once at
    * fit/index time; each ingest run reads the tiny centroid frame, the
    * delta, and only the index cells the delta actually maps to. The
    * cell count defaults to the corpus-derived ⌈√n⌉ ([[autoCells]]) so
    * a cell holds O(√n) vectors — the near-dup probe's per-delta-row
    * candidate bound — instead of the n/4 a fixed k=4 would leave. The
    * oracle re-derives EVERYTHING — corpus Lloyd rounds, delta
    * assignment, cell-bounded cosine — from the raw table
    * ([[incrementalAssignSql]]), so the driver gate certifies the
    * persisted state end to end. */
  def incrementalAssign(s: SparkSession, dir: String, k: Int = -1,
                        iters: Int = 2, tau: Double = 0.4): DataFrame = {
    VectorDotExact.register(s)
    // k ≤ 0 → corpus-derived ⌈√n⌉ cells (VERDICT r10: a fixed k=4 makes
    // the "cell-bounded" probe ~n/4 of the corpus per delta row at scale)
    val cells = if (k > 0) k else autoCellsForDir(s, dir)
    val (cents, index) = s20Index(s, dir, cells, iters)
    // spread the delta across the session's full parallelism BEFORE the
    // exact-decimal assignment kernel: a small parquet delta arrives as
    // 1-2 input partitions, which would serialize the broadcast-assign
    // dot products onto as many threads (measured at the 10× probe:
    // cpu_total ≈ wall — ~1 thread busy of 32). The shuffle moves only
    // the delta (tiny); the dot-product compute it unlocks is the cost.
    // Width-gated: no-op once the delta scan is already many-partition.
    val delta = spread(Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0))
      .select(col("vec_id"), col("embedding"),
        norm2Col(col("embedding")).as("norm2"))
    assignDelta(cents, index, delta, tau)
  }

  /** The s20 serve-path core, factored over its three input frames so a
    * literal-fixture spec can pin the semantics without the persisted
    * artifacts ([[incrementalAssign]] is this over the read-back state):
    *
    *  - nearest-centroid assignment: broadcast k-row `cents`
    *    (cid, ce, cnorm2), exact-decimal dist² = norm2 − 2·⟨e,ce⟩ +
    *    cnorm2, argmin with tie-break asc(cid);
    *  - cell-bounded near-dup: equi-join on cid against `index`
    *    (vec_id, cid, embedding, norm2), exact cosine rounded 6 dp,
    *    flagged when ≥ tau;
    *  - fate: near_dup_of_corpus if any cell neighbor qualifies, else
    *    admitted. Output (vec_id, centroid, fate) ordered by vec_id.
    *
    * The near-dup predicate is band-gated: the cheap codegen'd plain-
    * double dot ([[graft.functions.VectorDotRaw]]) decides every pair
    * whose approximate cosine clears tau ± `band`, and only the band
    * interior pays the exact-decimal kernel. Sound because the raw/
    * exact gap (double summation error + 16-dp quantization, ≲ 1e-12
    * for unit-scale 64-dim vectors) is orders of magnitude below the
    * 1e-3 band — spec-pinned equal to the all-exact path (`band = 0`)
    * on real data and on fixture cosines AT the band edges. */
  private[graft] def assignDelta(cents: DataFrame, index: DataFrame,
                                 delta: DataFrame, tau: Double,
                                 band: Double = 1e-3): DataFrame = {
    VectorDotExact.register(delta.sparkSession)
    graft.functions.VectorDotRaw.register(delta.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(asc("dist2"), asc("cid"))
    val assigned = delta.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("norm2"), col("cid"),
        (col("norm2") - lit(2) * dotCol(col("embedding"), col("ce")) +
          col("cnorm2")).as("dist2"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("vec_id", "embedding", "norm2", "cid")
      .loopCheckpoint(true) // delta-sized; feeds the near join AND the output
    val denom = sqrt(col("a.norm2")) * sqrt(col("b.norm2"))
    val exactHit = round(dotCol(col("a.embedding"), col("b.embedding")) /
      denom, 6).cast(Out6) >= lit(tau)
    val hit =
      if (band <= 0) exactHit
      else {
        val approx = graft.functions.VectorDotRaw(
          col("a.embedding"), col("b.embedding")) / denom
        when(approx >= lit(tau + band), lit(true))
          .when(approx <= lit(tau - band), lit(false))
          .otherwise(exactHit) // CaseWhen: exact kernel runs ONLY here
      }
    val near = assigned.as("a")
      .join(index.as("b"), Seq("cid"))
      .filter(hit)
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("near", lit(1L))
    assigned.select("vec_id", "cid")
      .join(near, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid").as("centroid"),
        when(col("near").isNotNull, lit("near_dup_of_corpus"))
          .otherwise(lit("admitted")).as("fate"))
      .orderBy("vec_id")
  }

  /** The persisted corpus-side quantizer state for
    * [[incrementalAssign]]: centroid frame (cid, ce, cnorm2 — k tiny
    * rows) and the cid-partitioned vector index, written once per
    * (session, sf-dir) and served READ-BACK (d21's artifact discipline:
    * the memoized token only gates the writes; consumers scan the
    * parquet files, so the persisted bytes are what downstream plans —
    * and the driver gate — actually consume). */
  private[graft] def s20Index(s: SparkSession, dir: String, k: Int,
                              iters: Int): (DataFrame, DataFrame) = {
    // k is part of the artifact identity: a corpus-rederived cell count
    // (autoCells) can never be served a stale index fit under another k
    val centsPath = graft.sources.Artifacts.path(s"s20_cents_k${k}_${Tables.norm(dir)}")
    val indexPath = graft.sources.Artifacts.path(s"s20_index_k${k}_${Tables.norm(dir)}")
    graft.plans.Materialized(s, s"s20_artifact:k$k:${Tables.norm(dir)}") {
      VectorDotExact.register(s)
      // repartition for the same reason as the delta side: the Lloyd
      // assignment is n·k exact-decimal dots and the corpus arrives as
      // 1-2 file partitions — localCheckpoint pins whatever layout it
      // sees, so spread FIRST (results are partitioning-independent:
      // decimal-quantized sums, total-ordered argmin; width-gated —
      // no-op when the corpus scan is already at session parallelism)
      val base = spread(Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0))
        .select(col("vec_id"), col("embedding"),
          norm2Col(col("embedding")).as("norm2"))
        .loopCheckpoint(true)
      // init: the k lowest CORPUS vec_ids' raw vectors (kmeans's rule,
      // restated for a corpus that excludes the delta ids)
      val initIds = base.select("vec_id").orderBy("vec_id").limit(k)
      var cents = base.join(initIds, "vec_id")
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), x => x.cast("double")).as("ce"))
        .select(col("cid"), col("ce"), dotCol(col("ce"), col("ce")).as("cnorm2"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(asc("dist2"), asc("cid"))
      def assign(c: DataFrame): DataFrame = base
        .crossJoin(broadcast(c))
        .select(col("vec_id"), col("cid"),
          (col("norm2") - lit(2) * dotCol(col("embedding"), col("ce")) +
            col("cnorm2")).as("dist2"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("vec_id", "cid")
      for (_ <- 1 until iters) {
        val a = assign(cents)
        cents = base.join(a, "vec_id")
          .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
          .groupBy("cid", "d")
          .agg(round((sum(col("x").cast("double").cast(Dec)).cast("double") /
            count(lit(1))).cast(Dec), 6).cast(Out6).as("c"))
          .groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
            st => st.getField("c").cast("double")).as("ce"))
          .select(col("cid"), col("ce"), dotCol(col("ce"), col("ce")).as("cnorm2"))
      }
      cents.write.mode("overwrite").parquet(centsPath)
      base.join(assign(cents), "vec_id")
        .select("vec_id", "cid", "embedding", "norm2")
        .write.mode("overwrite").partitionBy("cid").parquet(indexPath)
      s.range(1).toDF("ok")
    }
    // partition-column type inference reads cid back as INT — restate
    // the long the engine wrote so downstream plans see one type
    (s.read.parquet(centsPath),
      s.read.parquet(indexPath).select(col("vec_id"),
        col("cid").cast("long").as("cid"), col("embedding"), col("norm2")))
  }

  /** Shared oracle CTE chain for the s20 ingest family (s20/s21/s22):
    * corpus-restricted Lloyd rounds (the [[kmeansSql]] chain over
    * c_ex), final-centroid assignment of BOTH sides (`c_assign` /
    * `d_assign`), the cell-bounded pair cosine and the `near` set — all
    * from the raw embeddings table, so every consumer certifies the
    * persisted engine state end to end. DuckDB prunes unreferenced
    * CTEs, so a consumer reading only `c_assign` pays only that
    * subtree. */
  private def s20OracleCtes(kk: Int, iters: Int, tau: Double): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ex AS (
              |  SELECT vec_id, u.d, CAST(embedding[u.d + 1] AS DOUBLE) AS x
              |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
              |), c_ex AS (SELECT * FROM ex WHERE vec_id % 5 != 0),
              |d_ex AS (SELECT * FROM ex WHERE vec_id % 5 = 0),
              |c_vn AS (
              |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
              |  FROM c_ex GROUP BY vec_id
              |), d_vn AS (
              |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
              |  FROM d_ex GROUP BY vec_id
              |), init AS (
              |  SELECT DISTINCT vec_id FROM c_ex ORDER BY vec_id LIMIT $kk
              |), cent0 AS (
              |  SELECT vec_id AS cid, d, x AS c FROM c_ex
              |  WHERE vec_id IN (SELECT vec_id FROM init)
              |)""".stripMargin
    for (i <- 0 until iters - 1) {
      sb ++= s""",
                |cn$i AS (
                |  SELECT cid, CAST(SUM(CAST(c * c AS DECIMAL(32,16))) AS DOUBLE) AS cnorm2
                |  FROM cent$i GROUP BY cid
                |), dot$i AS (
                |  SELECT c_ex.vec_id, c.cid,
                |    CAST(SUM(CAST(c_ex.x * c.c AS DECIMAL(32,16))) AS DOUBLE) AS dot
                |  FROM c_ex JOIN cent$i c USING (d) GROUP BY c_ex.vec_id, c.cid
                |), best$i AS (
                |  SELECT vec_id, cid FROM (
                |    SELECT dt.vec_id, dt.cid,
                |      row_number() OVER (PARTITION BY dt.vec_id
                |        ORDER BY vn.norm2 - 2 * dt.dot + cn.cnorm2 ASC, dt.cid ASC) AS rk
                |    FROM dot$i dt JOIN c_vn vn USING (vec_id) JOIN cn$i cn USING (cid)) t
                |  WHERE rk = 1
                |), cent${i + 1} AS (
                |  SELECT b.cid, c_ex.d,
                |    CAST(CAST(round(CAST(CAST(SUM(CAST(c_ex.x AS DECIMAL(32,16))) AS DOUBLE) / COUNT(*)
                |      AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS DOUBLE) AS c
                |  FROM c_ex JOIN best$i b USING (vec_id) GROUP BY b.cid, c_ex.d
                |)""".stripMargin
    }
    val fc = s"cent${iters - 1}"
    sb ++= s""",
              |fcn AS (
              |  SELECT cid, CAST(SUM(CAST(c * c AS DECIMAL(32,16))) AS DOUBLE) AS cnorm2
              |  FROM $fc GROUP BY cid
              |), c_dot AS (
              |  SELECT c_ex.vec_id, c.cid,
              |    CAST(SUM(CAST(c_ex.x * c.c AS DECIMAL(32,16))) AS DOUBLE) AS dot
              |  FROM c_ex JOIN $fc c USING (d) GROUP BY c_ex.vec_id, c.cid
              |), c_assign AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT dt.vec_id, dt.cid,
              |      row_number() OVER (PARTITION BY dt.vec_id
              |        ORDER BY vn.norm2 - 2 * dt.dot + cn.cnorm2 ASC, dt.cid ASC) AS rk
              |    FROM c_dot dt JOIN c_vn vn USING (vec_id) JOIN fcn cn USING (cid)) t
              |  WHERE rk = 1
              |), d_dot AS (
              |  SELECT d_ex.vec_id, c.cid,
              |    CAST(SUM(CAST(d_ex.x * c.c AS DECIMAL(32,16))) AS DOUBLE) AS dot
              |  FROM d_ex JOIN $fc c USING (d) GROUP BY d_ex.vec_id, c.cid
              |), d_assign AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT dt.vec_id, dt.cid,
              |      row_number() OVER (PARTITION BY dt.vec_id
              |        ORDER BY vn.norm2 - 2 * dt.dot + cn.cnorm2 ASC, dt.cid ASC) AS rk
              |    FROM d_dot dt JOIN d_vn vn USING (vec_id) JOIN fcn cn USING (cid)) t
              |  WHERE rk = 1
              |), pair_dot AS (
              |  SELECT a.vec_id AS av, b.vec_id AS bv,
              |    CAST(SUM(CAST(a.x * b.x AS DECIMAL(32,16))) AS DOUBLE) AS dot
              |  FROM d_ex a JOIN c_ex b USING (d)
              |  JOIN d_assign da ON da.vec_id = a.vec_id
              |  JOIN c_assign ca ON ca.vec_id = b.vec_id AND ca.cid = da.cid
              |  GROUP BY a.vec_id, b.vec_id
              |), near AS (
              |  SELECT DISTINCT p.av AS vec_id FROM pair_dot p
              |  JOIN d_vn dn ON dn.vec_id = p.av
              |  JOIN c_vn cn2 ON cn2.vec_id = p.bv
              |  WHERE CAST(round(p.dot / (sqrt(dn.norm2) * sqrt(cn2.norm2)), 6)
              |        AS DECIMAL(18,6)) >= $tau
              |)""".stripMargin
    sb.toString
  }

  /** Oracle for [[incrementalAssign]]: the shared [[s20OracleCtes]]
    * chain plus the fate CASE. k ≤ 0 resolves the corpus-derived cell
    * count the engine query cached ([[oracleCells]]; rendered after
    * the query ran — the autoP pattern). */
  def incrementalAssignSql(k: Int = -1, iters: Int = 2,
                           tau: Double = 0.4): String = {
    val kk = if (k > 0) k else oracleCells
    s"""${s20OracleCtes(kk, iters, tau)}
       |SELECT d.vec_id, d.cid AS centroid,
       |  CASE WHEN n.vec_id IS NOT NULL THEN 'near_dup_of_corpus'
       |       ELSE 'admitted' END AS fate
       |FROM d_assign d LEFT JOIN near n USING (vec_id)
       |ORDER BY d.vec_id""".stripMargin
  }

  /** s21: quantizer-health audit — per-cell population of the PERSISTED
    * s20 index (the operational metric every IVF deployment watches: a
    * draining or ballooning cell means the coarse quantizer no longer
    * fits the data and the ⌈√n⌉ contract ([[autoCells]]) is eroding).
    *
    * Scale shape: `cid` is the index's PARTITION column, so the count
    * never touches a data page — the scan's ReadSchema is empty and the
    * work is proportional to file metadata, not vectors (the same
    * reason HMS-style partition stats are free). The oracle re-derives
    * the populations from the raw table through the full Lloyd chain,
    * so this also certifies the persisted index's cell sizes end to
    * end. */
  def cellOccupancy(s: SparkSession, dir: String, k: Int = -1,
                    iters: Int = 2): DataFrame = {
    VectorDotExact.register(s)
    val cells = if (k > 0) k else autoCellsForDir(s, dir)
    val (_, index) = s20Index(s, dir, cells, iters)
    index.groupBy("cid").agg(count(lit(1)).as("n_vectors"))
      .orderBy("cid")
  }

  def cellOccupancySql(k: Int = -1, iters: Int = 2): String = {
    val kk = if (k > 0) k else oracleCells
    s"""${s20OracleCtes(kk, iters, tau = 0.4)}
       |SELECT cid, count(*) AS n_vectors FROM c_assign
       |GROUP BY cid ORDER BY cid""".stripMargin
  }

  /** s22: ingest merge — the write-back step that completes the s20
    * lifecycle (fit → serve → MERGE): corpus index rows keep their
    * cells (gen 0) and the delta's `admitted` rows enter the index
    * under their assigned cell (gen 1); near-dups never merge. Output
    * is the second-generation index membership (vec_id, cid, gen) —
    * exactly what the next nightly ingest would serve from.
    *
    * Scale shape: the corpus side is the persisted index read (no
    * recompute); the delta side reuses [[incrementalAssign]]'s
    * cell-bounded serve plan; the merge itself is a union — no
    * shuffle beyond the final presentation sort. The oracle re-derives
    * both generations from the raw table. */
  def ingestMerge(s: SparkSession, dir: String, k: Int = -1,
                  iters: Int = 2, tau: Double = 0.4): DataFrame = {
    VectorDotExact.register(s)
    val cells = if (k > 0) k else autoCellsForDir(s, dir)
    val (_, index) = s20Index(s, dir, cells, iters)
    val admitted = incrementalAssign(s, dir, k, iters, tau)
      .filter(col("fate") === "admitted")
      .select(col("vec_id"), col("centroid").as("cid"), lit(1L).as("gen"))
    index.select(col("vec_id"), col("cid"), lit(0L).as("gen"))
      .unionByName(admitted)
      .orderBy("vec_id")
  }

  def ingestMergeSql(k: Int = -1, iters: Int = 2,
                     tau: Double = 0.4): String = {
    val kk = if (k > 0) k else oracleCells
    s"""${s20OracleCtes(kk, iters, tau)}
       |SELECT vec_id, cid, CAST(0 AS BIGINT) AS gen FROM c_assign
       |UNION ALL
       |SELECT d.vec_id, d.cid, CAST(1 AS BIGINT) AS gen
       |FROM d_assign d LEFT JOIN near n USING (vec_id)
       |WHERE n.vec_id IS NULL
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------------------ ANN recall

  /** s14: recall@k of the LSH-bucketed ANN (s2) against the exact
    * brute-force top-k (s1) for one query — the evaluation loop every
    * approximate index needs before it replaces the exact path at
    * scale (pairs with d16's LSH band tuning table: this is the same
    * measurement for the embedding side). One row: k, overlap count,
    * recall ratio. Both rankings are recomputed here (each is a
    * bounded top-k, cheap); the join is on the k-row result frames, so
    * the comparison itself is metadata-sized at any corpus scale. */
  def annRecall(emb: DataFrame, queryId: Long, k: Int = 10, p: Int = 6): DataFrame = {
    val exact = knnBrute(emb, queryId, k).select("vec_id")
    val approx = annLsh(emb, queryId, k, p = p).select("vec_id")
    exact.join(approx, "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(k.toLong).as("k"), col("n_overlap"),
        round(col("n_overlap").cast("double") / lit(k), 6).cast(Out6).as("recall"))
  }

  def annRecallSql(queryId: Long, k: Int = 10, p: Int = 6): String =
    s"""WITH exact AS (SELECT vec_id FROM (
       |  ${knnBruteSql(queryId, k).replace("\n", "\n  ")}
       |)), approx AS (SELECT vec_id FROM (
       |  ${annLshSql(queryId, k, p = p).replace("\n", "\n  ")}
       |)), o AS (
       |  SELECT count(*) AS n_overlap FROM exact JOIN approx USING (vec_id)
       |)
       |SELECT CAST($k AS BIGINT) AS k, n_overlap,
       |  CAST(round(CAST(n_overlap AS DOUBLE) / $k, 6) AS DECIMAL(18,6)) AS recall
       |FROM o""".stripMargin

  // ------------------------------------------------ product quantization

  /** s15: PQ-compressed ANN with asymmetric-distance (ADC) scoring —
    * the compressed-domain retrieval path that completes the family
    * (s1 exact, s2 LSH-pruned, s4 IVF-pruned, s8 int8, s15 PQ). Each
    * vector is encoded as `m` sub-codebook ids (one per `Dims/m`-dim
    * subspace); a query scores a candidate by summing `m` lookup-table
    * entries instead of touching the raw floats.
    *
    * The per-subspace codebooks come from the s10 Lloyd discipline run
    * on all `m` subspaces at once — one grouped fit keyed by subspace,
    * init from the `kc` lowest vec_ids' slices, assignment via the s9
    * exact dist² identity, decimal-quantized 6-dp mean updates — so
    * both engines iterate on byte-identical centroids and the oracle
    * re-derives the entire fit + encode + ADC ranking from raw parquet.
    *
    * 100 TB shape: the fit touches (n·m) subvector rows per round with
    * k_c·m centroid rows broadcast; encode is one corpus scan; the
    * query-time LUT is m·k_c rows (here 64) built from one broadcast
    * row and the scoring join is broadcast too — the corpus-side cost
    * per query is one scan over codes of m small ints per vector (the
    * entire point of PQ: ~n·m bytes of index, no floats at query
    * time). ADC scores are sums of m 6-dp decimals — exact under any
    * aggregation order, so the ranking is cross-engine deterministic.
    */
  /** The PQ fit shared by [[annPq]] and [[annTwoStage]]: subspace
    * explode → grouped Lloyd rounds → final codes. Returns (base
    * subvector frame, final centroids, per-vector codes). */
  private def pqFit(emb: DataFrame, m: Int, kc: Int, iters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    VectorDotExact.register(emb.sparkSession)
    val sw = Dims / m
    val subs = (0 until m).map(j =>
      struct(lit(j.toLong).as("sub"), slice(col("embedding"), j * sw + 1, sw).as("sv")))
    val base = emb
      .select(col("vec_id"), explode(array(subs: _*)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .withColumn("norm2", norm2Col(col("sv")))
      .loopCheckpoint(true)
    var cents = base.filter(col("vec_id") < kc)
      .select(col("sub"), col("vec_id").as("cid"),
        transform(col("sv"), x => x.cast("double")).as("ce"))
      .select(col("sub"), col("cid"), col("ce"),
        dotCol(col("ce"), col("ce")).as("cnorm2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "sub").orderBy(asc("dist2"), asc("cid"))
    def assign(c: DataFrame): DataFrame = base
      .join(broadcast(c), "sub")
      .select(col("vec_id"), col("sub"), col("cid"),
        (col("norm2") - lit(2) * dotCol(col("sv"), col("ce")) +
          col("cnorm2")).as("dist2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("sub"), col("cid"))
    for (_ <- 1 until iters) {
      val a = assign(cents)
      cents = base.join(a, Seq("vec_id", "sub"))
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy("sub", "cid", "d")
        .agg(round((sum(col("x").cast("double").cast(Dec)).cast("double") /
          count(lit(1))).cast(Dec), 6).cast(Out6).as("c"))
        .groupBy("sub", "cid")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
          s => s.getField("c").cast("double")).as("ce"))
        .select(col("sub"), col("cid"), col("ce"),
          dotCol(col("ce"), col("ce")).as("cnorm2"))
    }
    val codes = assign(cents)
    (base, cents, codes)
  }

  /** Query-time ADC lookup table: per-(subspace, code) dot of the query
    * subvector against the final centroids — m·k_c tiny rows. */
  private def pqLut(base: DataFrame, cents: DataFrame, queryId: Long): DataFrame = {
    val q = base.filter(col("vec_id") === queryId)
      .select(col("sub"), col("sv").as("qv"))
    cents.join(broadcast(q), "sub")
      .select(col("sub"), col("cid"),
        round(dotCol(col("qv"), col("ce")).cast(Dec), 6).cast(Out6).as("lutq"))
  }

  def annPq(emb: DataFrame, queryId: Long, k: Int = 10, m: Int = 8,
            kc: Int = 8, iters: Int = 2): DataFrame = {
    val (base, cents, codes) = pqFit(emb, m, kc, iters)
    val lut = pqLut(base, cents, queryId)
    pqScore(codes, lut, queryId, k)
  }

  /** ADC scoring of `codes` against a query LUT: sum of m 6-dp decimal
    * lookups per candidate, top-k by (adc desc, vec_id). */
  private def pqScore(codes: DataFrame, lut: DataFrame, queryId: Long,
                      k: Int): DataFrame =
    codes.filter(col("vec_id") =!= queryId)
      .join(broadcast(lut), Seq("sub", "cid"))
      .groupBy("vec_id")
      .agg(sum(col("lutq")).cast(Out6).as("adc"))
      .orderBy(desc("adc"), asc("vec_id"))
      .limit(k)

  /** The query's m subvectors sliced straight from the embedding row —
    * identical rows to filtering the fit's base frame, without needing
    * the fit. */
  private def querySubVectors(emb: DataFrame, queryId: Long, m: Int): DataFrame = {
    val sw = Dims / m
    val subs = (0 until m).map(j =>
      struct(lit(j.toLong).as("sub"), slice(col("embedding"), j * sw + 1, sw).as("sv")))
    emb.filter(col("vec_id") === queryId)
      .select(explode(array(subs: _*)).as("e"))
      .select(col("e.sub").as("sub"), col("e.sv").as("qv"))
  }

  private def pqLutFromCents(cents: DataFrame, qsub: DataFrame): DataFrame =
    cents.join(broadcast(qsub), "sub")
      .select(col("sub"), col("cid"),
        round(dotCol(col("qv"), col("ce")).cast(Dec), 6).cast(Out6).as("lutq"))

  /** PQ codebooks + codes memoized per (session, sf-dir) — the fit runs
    * once and every compressed-domain query (s15, s19) serves from it,
    * exactly as a production index would. Cents are m·k_c tiny rows,
    * codes are m small ints per vector — both memo-safe sizes. */
  private def cachedPqFit(s: SparkSession, dir: String, m: Int = 8,
                          kc: Int = 8, iters: Int = 2): (DataFrame, DataFrame) = {
    val norm = Tables.norm(dir)
    lazy val fit = pqFit(Tables.embeddings(s, dir), m, kc, iters)
    val tag = s"m$m:kc$kc:it$iters:$norm"
    (graft.plans.Materialized(s, s"pq_cents:$tag")(fit._2),
      graft.plans.Materialized(s, s"pq_codes:$tag")(fit._3))
  }

  /** s15 serving path over the memoized fit. Same output as [[annPq]]. */
  def annPqServed(s: SparkSession, dir: String, queryId: Long, k: Int = 10,
                  m: Int = 8, kc: Int = 8, iters: Int = 2): DataFrame = {
    VectorDotExact.register(s)
    val (cents, codes) = cachedPqFit(s, dir, m, kc, iters)
    val lut = pqLutFromCents(cents,
      querySubVectors(Tables.embeddings(s, dir), queryId, m))
    pqScore(codes, lut, queryId, k)
  }

  /** Oracle for [[annPq]]: the grouped-by-subspace Lloyd rounds unrolled
    * as CTEs (cent/cn/dot/best per iteration, keys (sub, cid)), then
    * the query LUT against the final centroids and the ADC sum over the
    * final codes — the s10 oracle contract extended with the subspace
    * dimension. */
  /** The PQ fit as SQL CTEs (`ex`, `vn`, `cent0`, per-round `cn/dot/
    * best/cent`), shared by [[annPqSql]] and [[annTwoStageSql]]. */
  private def pqFitCtesSql(m: Int, kc: Int, iters: Int): String = {
    val sw = Dims / m
    val sb = new StringBuilder
    sb ++= s"""WITH ex AS (
              |  SELECT vec_id, CAST(u.d // $sw AS BIGINT) AS sub, u.d % $sw AS dloc,
              |    CAST(embedding[u.d + 1] AS DOUBLE) AS x
              |  FROM embeddings, UNNEST(range($Dims)) AS u(d)
              |), vn AS (
              |  SELECT vec_id, sub, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
              |  FROM ex GROUP BY vec_id, sub
              |), cent0 AS (
              |  SELECT sub, vec_id AS cid, dloc, x AS c FROM ex WHERE vec_id < $kc
              |)""".stripMargin
    for (i <- 0 until iters) {
      sb ++= s""",
                |cn$i AS (
                |  SELECT sub, cid, CAST(SUM(CAST(c * c AS DECIMAL(32,16))) AS DOUBLE) AS cnorm2
                |  FROM cent$i GROUP BY sub, cid
                |), dot$i AS (
                |  SELECT ex.vec_id, c.sub, c.cid,
                |    CAST(SUM(CAST(ex.x * c.c AS DECIMAL(32,16))) AS DOUBLE) AS dot
                |  FROM ex JOIN cent$i c ON ex.sub = c.sub AND ex.dloc = c.dloc
                |  GROUP BY ex.vec_id, c.sub, c.cid
                |), best$i AS (
                |  SELECT vec_id, sub, cid FROM (
                |    SELECT dt.vec_id, dt.sub, dt.cid,
                |      row_number() OVER (PARTITION BY dt.vec_id, dt.sub
                |        ORDER BY vn.norm2 - 2 * dt.dot + cn.cnorm2 ASC, dt.cid ASC) AS rk
                |    FROM dot$i dt
                |    JOIN vn ON vn.vec_id = dt.vec_id AND vn.sub = dt.sub
                |    JOIN cn$i cn ON cn.sub = dt.sub AND cn.cid = dt.cid) t
                |  WHERE rk = 1
                |)""".stripMargin
      if (i < iters - 1)
        sb ++= s""",
                  |cent${i + 1} AS (
                  |  SELECT b.sub, b.cid, ex.dloc,
                  |    CAST(CAST(round(CAST(CAST(SUM(CAST(ex.x AS DECIMAL(32,16))) AS DOUBLE) / COUNT(*)
                  |      AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS DOUBLE) AS c
                  |  FROM ex JOIN best$i b ON ex.vec_id = b.vec_id AND ex.sub = b.sub
                  |  GROUP BY b.sub, b.cid, ex.dloc
                  |)""".stripMargin
    }
    sb.toString
  }

  def annPqSql(queryId: Long, k: Int = 10, m: Int = 8, kc: Int = 8,
               iters: Int = 2): String = {
    val sb = new StringBuilder
    sb ++= pqFitCtesSql(m, kc, iters)
    val last = iters - 1
    sb ++= s""",
              |q AS (SELECT sub, dloc, x AS qx FROM ex WHERE vec_id = $queryId),
              |lut AS (
              |  SELECT c.sub, c.cid,
              |    CAST(round(CAST(CAST(SUM(CAST(q.qx * c.c AS DECIMAL(32,16))) AS DOUBLE)
              |      AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS lutq
              |  FROM cent$last c JOIN q ON q.sub = c.sub AND q.dloc = c.dloc
              |  GROUP BY c.sub, c.cid
              |)
              |SELECT b.vec_id, CAST(SUM(l.lutq) AS DECIMAL(18,6)) AS adc
              |FROM best$last b JOIN lut l ON l.sub = b.sub AND l.cid = b.cid
              |WHERE b.vec_id != $queryId
              |GROUP BY b.vec_id
              |ORDER BY adc DESC, b.vec_id ASC LIMIT $k""".stripMargin
    sb.toString
  }

  // -------------------------------------------------- two-stage pipeline

  private def ivf2sBase: String = graft.sources.Artifacts.path("ivf2s")

  /** s19: the production two-stage retrieval stack — IVF coarse probe →
    * PQ/ADC shortlist → exact re-rank — composed end-to-end from the
    * family's own stages (s4's coarse quantizer, s15's compressed-domain
    * scorer, s1's exact kernel). This is how a billion-vector serving
    * path actually runs: the coarse probe cuts the corpus to
    * n·nprobe/k_centroids candidates WITHOUT touching floats (centroid
    * id equi-join on the persisted assignment index), ADC scores those
    * candidates from m small code ids + an m·k_c lookup table (no
    * corpus floats at this stage either), and only the top-`shortlist`
    * survivors pay the exact 64-dim cosine. Raw vectors are touched for
    * exactly `shortlist` rows per query.
    *
    * Oracle contract: the spark.ml KMeans fit is a persisted FACT (s4
    * pattern — assignments + probe list land in parquet and DuckDB reads
    * them back); the PQ fit, ADC scoring, shortlist cut and exact
    * re-rank are all re-derived from raw parquet by [[annTwoStageSql]].
    * Every ranking key is an exact decimal (ADC sums of 6-dp decimals,
    * 6-dp cosine), ties broken by vec_id — cross-engine total order.
    * Output carries BOTH scores so the compressed-vs-exact gap per hit
    * is visible (the number a recall dashboard tracks). */
  def annTwoStage(emb: DataFrame, queryId: Long, k: Int = 10,
                  shortlist: Int = 50, m: Int = 8, kc: Int = 8,
                  iters: Int = 2, nCentroids: Int = 16,
                  nprobe: Int = 4): DataFrame = {
    val (assigned, probes, q) = ivfFit(emb, queryId, nCentroids, nprobe, 4)
    val (base, cents, codes) = pqFit(emb, m, kc, iters)
    twoStageTail(emb, assigned.select("vec_id", "centroid"), probes, codes,
      pqLut(base, cents, queryId), q, queryId, shortlist, k)
  }

  /** Stages 2+3 shared by the refit and served two-stage paths: persist
    * the coarse facts under the s19 namespace, read them back, ADC-score
    * the candidates to a `shortlist` (via [[pqScore]] — one scoring
    * implementation for the whole PQ family), then exact cosine re-rank
    * carrying both scores. `q` is the caller's 1-row (qe, qnorm2) query
    * frame (both callers already have one — the [[persistProbeRerank]]
    * convention). The twin contract "served == refit" holds by
    * construction because this IS both paths' tail. */
  private def twoStageTail(emb: DataFrame, assignedIds: DataFrame,
                           probes: DataFrame, codes: DataFrame, lut: DataFrame,
                           q: DataFrame, queryId: Long, shortlist: Int,
                           k: Int): DataFrame = {
    assignedIds.write.mode("overwrite").parquet(s"$ivf2sBase/assign")
    probes.write.mode("overwrite").parquet(s"$ivf2sBase/probes")
    val s = emb.sparkSession
    val a = s.read.parquet(s"$ivf2sBase/assign")
    val p = s.read.parquet(s"$ivf2sBase/probes")
    val cands = a.join(broadcast(p), "centroid").select("vec_id")
    val short = pqScore(codes.join(cands, "vec_id"), lut, queryId, shortlist)
    emb.join(broadcast(short), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("adc"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** s19 serving path: BOTH stage indexes come from the session memos
    * (coarse quantizer shared with s4, PQ codebooks/codes shared with
    * s15) — one fit each per corpus version, every query serves from
    * them. Same output as [[annTwoStage]] (shared [[twoStageTail]]);
    * the persisted assign/probe facts are still written fresh for the
    * oracle. */
  def annTwoStageServed(s: SparkSession, dir: String, queryId: Long,
                        k: Int = 10, shortlist: Int = 50, m: Int = 8,
                        kc: Int = 8, iters: Int = 2, nCentroids: Int = 16,
                        nprobe: Int = 4): DataFrame = {
    VectorDotExact.register(s)
    val emb = Tables.embeddings(s, dir)
    val (assignedIds, centDf) = cachedIvfParts(s, dir, nCentroids, 4)
    val qrow = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    val (cents, codes) = cachedPqFit(s, dir, m, kc, iters)
    twoStageTail(emb, assignedIds, ivfProbes(centDf, qrow, nprobe), codes,
      pqLutFromCents(cents, querySubVectors(emb, queryId, m)),
      qrow, queryId, shortlist, k)
  }

  /** One-time index build for the serve-only path: fits (or memo-hits)
    * the coarse quantizer and PQ codebooks and persists the
    * corpus-sized assignment index to parquet — everything
    * query-INDEPENDENT. After this, [[annTwoStageServeOnly]] serves any
    * query without touching a fit or writing a corpus-sized fact. This
    * split is the probe boundary `tools.ServeProbe` measures (SCALE.md:
    * the serve path's cost must stay near-flat as the corpus grows,
    * because raw floats are only read for `shortlist` rows/query). */
  def warmTwoStageIndex(s: SparkSession, dir: String, m: Int = 8, kc: Int = 8,
                        iters: Int = 2, nCentroids: Int = 16): Unit = {
    VectorDotExact.register(s)
    val (assignedIds, _) = cachedIvfParts(s, dir, nCentroids, 4)
    assignedIds.write.mode("overwrite").parquet(s"$ivf2sBase/assign")
    cachedPqFit(s, dir, m, kc, iters) // warm the codebook/codes memo
    ()
  }

  /** Pure serving: the [[annTwoStageServed]] dataflow minus every
    * index-build and oracle-fact write — reads the assignment index
    * [[warmTwoStageIndex]] persisted, computes the query's nprobe list
    * in memory (nprobe rows, broadcast), ADC-scores the candidate ids
    * from the memoized codes, and pays raw floats for `shortlist` rows
    * only. This is the steady-state cost per query on a static corpus;
    * the registered s19 additionally rewrites the oracle facts so
    * DuckDB can check it. */
  def annTwoStageServeOnly(s: SparkSession, dir: String, queryId: Long,
                           k: Int = 10, shortlist: Int = 50, m: Int = 8,
                           kc: Int = 8, iters: Int = 2, nCentroids: Int = 16,
                           nprobe: Int = 4): DataFrame = {
    VectorDotExact.register(s)
    val emb = Tables.embeddings(s, dir)
    val (_, centDf) = cachedIvfParts(s, dir, nCentroids, 4)
    val qrow = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), norm2Col(col("embedding")).as("qnorm2"))
    val (cents, codes) = cachedPqFit(s, dir, m, kc, iters)
    val a = s.read.parquet(s"$ivf2sBase/assign")
    val cands = a.join(broadcast(ivfProbes(centDf, qrow, nprobe)), "centroid")
      .select("vec_id")
    val short = pqScore(codes.join(cands, "vec_id"),
      pqLutFromCents(cents, querySubVectors(emb, queryId, m)), queryId, shortlist)
    emb.join(broadcast(short), "vec_id")
      .crossJoin(broadcast(qrow))
      .select(col("vec_id"), col("adc"),
        round(dotCol(col("embedding"), col("qe")) /
          (sqrt(norm2Col(col("embedding"))) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Oracle for [[annTwoStage]]: persisted IVF candidates ∩ the
    * re-derived PQ codes → ADC shortlist → exact cosine top-k. */
  def annTwoStageSql(queryId: Long, k: Int = 10, shortlist: Int = 50,
                     m: Int = 8, kc: Int = 8, iters: Int = 2): String = {
    val last = iters - 1
    s"""${pqFitCtesSql(m, kc, iters)},
       |assigned AS (SELECT * FROM '$ivf2sBase/assign/*.parquet'),
       |probes AS (SELECT * FROM '$ivf2sBase/probes/*.parquet'),
       |cands AS (
       |  SELECT vec_id FROM assigned JOIN probes USING (centroid)
       |  WHERE vec_id != $queryId
       |), q AS (SELECT sub, dloc, x AS qx FROM ex WHERE vec_id = $queryId),
       |lut AS (
       |  SELECT c.sub, c.cid,
       |    CAST(round(CAST(CAST(SUM(CAST(q.qx * c.c AS DECIMAL(32,16))) AS DOUBLE)
       |      AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS lutq
       |  FROM cent$last c JOIN q ON q.sub = c.sub AND q.dloc = c.dloc
       |  GROUP BY c.sub, c.cid
       |), short AS (
       |  SELECT b.vec_id, CAST(SUM(l.lutq) AS DECIMAL(18,6)) AS adc
       |  FROM best$last b JOIN cands USING (vec_id)
       |  JOIN lut l ON l.sub = b.sub AND l.cid = b.cid
       |  GROUP BY b.vec_id
       |  ORDER BY adc DESC, b.vec_id ASC LIMIT $shortlist
       |), norms AS (
       |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY vec_id
       |), qn AS (SELECT norm2 AS qnorm2 FROM norms WHERE vec_id = $queryId),
       |dots AS (
       |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN short USING (vec_id)
       |  JOIN q ON q.sub = ex.sub AND q.dloc = ex.dloc
       |  GROUP BY ex.vec_id
       |)
       |SELECT s.vec_id, s.adc,
       |  CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |FROM short s JOIN dots d USING (vec_id) JOIN norms n USING (vec_id) CROSS JOIN qn
       |ORDER BY cos DESC, s.vec_id ASC LIMIT $k""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_knn_brute" -> ((s: SparkSession, dir: String) =>
      knnBrute(Tables.embeddings(s, dir), queryId = 0L)),
    "s23_mmr_rerank" -> ((s: SparkSession, dir: String) =>
      mmrRerank(Tables.embeddings(s, dir), queryId = 0L)),
    "s24_sq8_recall" -> ((s: SparkSession, dir: String) =>
      sq8Recall(Tables.embeddings(s, dir))),
    "s25_mrl_recall" -> ((s: SparkSession, dir: String) =>
      mrlRecall(Tables.embeddings(s, dir))),
    "s2_ann_lsh" -> ((s: SparkSession, dir: String) =>
      annLsh(Tables.embeddings(s, dir), queryId = 0L,
        p = autoPForDir(s, dir))),
    "s3_near_dup_pairs" -> ((s: SparkSession, dir: String) =>
      nearDupPairsFromScored(cachedScoredPairs(s, dir))),
    "s5_embedding_clusters" -> ((s: SparkSession, dir: String) =>
      cachedClusters(s, dir).orderBy("vec_id")),
    // the quantizer fit stays in Spark (not SQL-expressible); the
    // assignments are persisted so everything downstream of the fit —
    // probe pruning + exact re-rank — is DuckDB hash-checked. Recall is
    // additionally test-enforced against brute force in SimilaritySpec.
    "s4_ann_ivf" -> ((s: SparkSession, dir: String) =>
      annIvfServed(s, dir, queryId = 0L)),
    "s6_label_centroids" -> ((s: SparkSession, dir: String) =>
      labelCentroids(Tables.embeddings(s, dir))),
    "s7_ann_batch" -> ((s: SparkSession, dir: String) =>
      knnBatch(Tables.embeddings(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L))),
    "s8_ann_int8" -> ((s: SparkSession, dir: String) =>
      annInt8(Tables.embeddings(s, dir), queryId = 0L)),
    "s9_centroid_assign" -> ((s: SparkSession, dir: String) =>
      centroidAssign(Tables.embeddings(s, dir))),
    "s10_kmeans" -> ((s: SparkSession, dir: String) =>
      cachedKmeans(s, dir).orderBy("vec_id")),
    "s27_silhouette" -> ((s: SparkSession, dir: String) =>
      silhouetteFrom(Tables.embeddings(s, dir), cachedKmeans(s, dir))),
    "s11_knn_graph" -> ((s: SparkSession, dir: String) =>
      knnGraphFromScored(cachedScoredPairs(s, dir))),
    "s12_semantic_dedup" -> ((s: SparkSession, dir: String) =>
      semanticDedup(Tables.embeddings(s, dir), cachedClusters(s, dir))),
    "s13_hard_negatives" -> ((s: SparkSession, dir: String) =>
      hardNegatives(Tables.embeddings(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L))),
    "m17_ndcg" -> ((s: SparkSession, dir: String) =>
      ndcgAtK(Tables.embeddings(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L))),
    "s14_ann_recall" -> ((s: SparkSession, dir: String) =>
      annRecall(Tables.embeddings(s, dir), queryId = 0L,
        p = autoPForDir(s, dir))),
    "s15_ann_pq" -> ((s: SparkSession, dir: String) =>
      annPqServed(s, dir, queryId = 0L)),
    "s19_ann_twostage" -> ((s: SparkSession, dir: String) =>
      annTwoStageServed(s, dir, queryId = 0L)),
    "s16_mips" -> ((s: SparkSession, dir: String) =>
      mipsBrute(Tables.embeddings(s, dir), queryId = 0L)),
    "s17_filtered_ann" -> ((s: SparkSession, dir: String) =>
      filteredKnn(Tables.embeddings(s, dir), queryId = 0L, labelEq = 3)),
    "s18_pca_power" -> ((s: SparkSession, dir: String) =>
      pcaPower(Tables.embeddings(s, dir))),
    "s20_incremental_assign" -> ((s: SparkSession, dir: String) =>
      incrementalAssign(s, dir)),
    "s21_cell_occupancy" -> ((s: SparkSession, dir: String) =>
      cellOccupancy(s, dir)),
    "s22_ingest_merge" -> ((s: SparkSession, dir: String) =>
      ingestMerge(s, dir)),
    "s26_nprobe_recall" -> ((s: SparkSession, dir: String) =>
      nprobeRecall(s, dir)),
  )

  // LSH-family oracles read oracleP — resolved from the per-dir autoP
  // cache every query consults, so subset runs and execution order can
  // never desynchronize oracle and engine (round-6 fix)
  def oracles: Map[String, String] = Map(
    "s1_knn_brute" -> knnBruteSql(0L),
    "s23_mmr_rerank" -> mmrRerankSql(0L),
    "s24_sq8_recall" -> sq8RecallSql(),
    "s25_mrl_recall" -> mrlRecallSql(),
    "s2_ann_lsh" -> annLshSql(0L, p = oracleP),
    "s3_near_dup_pairs" -> nearDupPairsSql(p = oracleP),
    "s5_embedding_clusters" -> embeddingClustersSql(p = oracleP),
    "s4_ann_ivf" -> annIvfSql(0L),
    "s6_label_centroids" -> labelCentroidsSql,
    "s7_ann_batch" -> knnBatchSql(Seq(0L, 1L, 2L, 3L, 4L)),
    "s8_ann_int8" -> annInt8Sql(0L),
    "s9_centroid_assign" -> centroidAssignSql,
    "s10_kmeans" -> kmeansSql(),
    "s27_silhouette" -> silhouetteSql(),
    "s11_knn_graph" -> knnGraphSql(p = oracleP),
    "s12_semantic_dedup" -> semanticDedupSql(p = oracleP),
    "s13_hard_negatives" -> hardNegativesSql(Seq(0L, 1L, 2L, 3L, 4L)),
    "m17_ndcg" -> ndcgAtKSql(Seq(0L, 1L, 2L, 3L, 4L)),
    "s14_ann_recall" -> annRecallSql(0L, p = oracleP),
    "s15_ann_pq" -> annPqSql(0L),
    "s19_ann_twostage" -> annTwoStageSql(0L),
    "s16_mips" -> mipsBruteSql(0L),
    "s17_filtered_ann" -> filteredKnnSql(0L, labelEq = 3),
    "s18_pca_power" -> pcaPowerSql(),
    "s20_incremental_assign" -> incrementalAssignSql(),
    "s21_cell_occupancy" -> cellOccupancySql(),
    "s22_ingest_merge" -> ingestMergeSql(),
    "s26_nprobe_recall" -> nprobeRecallSql(),
  )
}
