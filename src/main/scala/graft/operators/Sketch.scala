package graft.operators

import graft.QuerySpec
import graft.plans.Lineage.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{KmvDistinctAggregator, MisraGriesAggregator}
import graft.sources.Tables

/** Distinct-count sketching (engine extension): constant-space
  * approximate distinct counts with an exact-count calibration column.
  *
  * At 100 TB an exact distinct count shuffles every distinct key; a KMV
  * sketch shuffles k longs per group per partition and merges
  * associatively — the same role HyperLogLog plays in
  * approx_count_distinct, but built from the engine's cross-engine md5
  * hash so the DuckDB oracle can recompute the identical estimate from
  * the k-th order statistic (approx_count_distinct's HLL has no DuckDB
  * twin, which is why it cannot be oracled and this operator exists).
  */
object Sketch {
  private val Out6 = DecimalType(18, 6)
  private val K = 64

  /** 32-bit md5-derived hash: the first 8 hex digits of md5(key) as a
    * BIGINT — the [[graft.text.TextStats.hashBucket]] pattern widened
    * from 8 to 32 bits. Uniform over [0, 2³²), identical in both
    * engines (md5 is the only shared hash primitive). Since round 6 the
    * engine side is the codegen'd [[graft.functions.Md5Hash32]] kernel
    * (one digest per row; the Column formulation re-evaluated the md5
    * subtree once per hex digit — 8×). Callers must have
    * `Md5Hash32.register`ed the session. */
  def hash32(key: Column): Column =
    graft.functions.Md5Hash32(key.cast("string"))

  /** DuckDB twin of [[hash32]] over a key expression. */
  def hash32SqlExpr(key: String): String =
    (1 to 8).map { pos =>
      s"(strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), $pos, 1)) - 1) * ${1L << ((8 - pos) * 4)}"
    }.mkString("(", " + ", ")")

  /** q37: KMV distinct-user estimate per event type NEXT TO the exact
    * count — the estimator-vs-truth calibration surface (the d10
    * pattern). The estimate flows through the bounded
    * [[KmvDistinctAggregator]] (map-side partials, O(k) state); the
    * exact count is the thing the sketch replaces at scale and is kept
    * here so the query itself exhibits the error being accepted. */
  def kmvDistinct(events: DataFrame, k: Int = K): DataFrame = {
    val spark = events.sparkSession
    graft.functions.Md5Hash32.register(spark)
    import spark.implicits._
    val est = events.select(col("event_type"), hash32(col("user_id")).as("hv"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .agg(new KmvDistinctAggregator(k).toColumn.name("est"))
      .toDF("event_type", "est")
    val exact = events.groupBy("event_type")
      .agg(count_distinct(col("user_id")).cast("long").as("n_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        round(col("est"), 6).cast(Out6).as("kmv_est"))
      .orderBy("event_type")
  }

  /** Oracle for [[kmvDistinct]]: the k-th smallest distinct hash per
    * group via window order statistic; below k distinct hashes the
    * estimate is the distinct-hash count itself (both branches mirror
    * [[KmvDistinctAggregator.finish]] exactly). */
  def kmvDistinctSql(k: Int = K): String =
    s"""WITH h AS (
       |  SELECT DISTINCT event_type, ${hash32SqlExpr("user_id")} AS hv
       |  FROM events
       |), ranked AS (
       |  SELECT event_type, hv,
       |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
       |    count(*) OVER (PARTITION BY event_type) AS n_h
       |  FROM h
       |), est AS (
       |  SELECT event_type,
       |    CASE WHEN n_h < $k THEN CAST(n_h AS DOUBLE)
       |         ELSE ${k - 1} * 4294967296.0 / hv END AS est
       |  FROM ranked WHERE rk = least(n_h, $k)
       |), exact AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
       |  FROM events GROUP BY event_type
       |)
       |SELECT e.event_type, e.n_exact,
       |  CAST(round(s.est, 6) AS DECIMAL(18,6)) AS kmv_est
       |FROM exact e JOIN est s USING (event_type) ORDER BY event_type""".stripMargin

  /** q38: exact heavy hitters via the classic two-pass sketch plan —
    * pass 1 runs a bounded Misra-Gries summary over the token stream
    * (O(c) state map-side, associative merge; candidates are a
    * DETERMINISTIC superset of every token with frequency > N/(c+1)),
    * pass 2 exact-counts only the candidates (broadcast join — the
    * candidate set is ≤ c rows by construction) and filters to
    * frequency·k > N. Because the final filter uses exact counts, the
    * result equals the plain GROUP BY + HAVING the oracle runs, at a
    * fraction of the shuffle: at 100 TB pass 1 shuffles c pairs per
    * partition instead of the full vocabulary, and pass 2's aggregate
    * only carries candidate tokens.
    *
    * Capacity is 2k+1 > k, so the MG guarantee (> N/(2k+2) survives)
    * strictly covers the > N/k report threshold. */
  def heavyHitters(docs: DataFrame, k: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(explode(graft.text.Tokenize.rawTokens(col("text"))).as("word"))
    // pass 1: MG candidates + exact N in ONE bounded-state aggregate
    // (1-row result, checkpointed — both branches below read it)
    val sketch = toks.as[String]
      .groupByKey(_ => 0)
      .agg(new MisraGriesAggregator(2 * k + 1).toColumn.name("s"))
      .toDF("g", "s")
      .select(col("s._1").as("cands"), col("s._2").as("n_total"))
      .loopCheckpoint(true)
    val candidates = sketch.select(explode(col("cands")).as("word"))
    val total = sketch.select(col("n_total"))
    // pass 2: exact counts for candidates only
    toks.join(broadcast(candidates), "word")
      .groupBy("word").agg(count(lit(1)).cast("long").as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * k > col("n_total"))
      .select(col("word"), col("n"), col("n_total"))
      .orderBy(desc("n"), asc("word"))
  }

  /** Oracle for [[heavyHitters]]: the exact GROUP BY + HAVING the
    * two-pass plan is guaranteed to reproduce. */
  def heavyHittersSql(k: Int = 32): String =
    s"""WITH toks AS (
       |  SELECT u.word
       |  FROM documents, UNNEST(${graft.text.Tokenize.rawTokensSql("text")}) AS u(word)
       |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
       |SELECT word, CAST(count(*) AS BIGINT) AS n, n_total
       |FROM toks, tot GROUP BY word, n_total
       |HAVING count(*) * $k > n_total
       |ORDER BY n DESC, word ASC""".stripMargin

  /** q64: a REAL HyperLogLog built on the cross-engine md5 hash — unlike
    * `approx_count_distinct` (whose HLL internals have no DuckDB twin and
    * so can never be oracled), every step here is recomputed identically
    * by the oracle: bucket = top 8 hash bits (m=256 registers), register
    * = max ρ (leading-zero rank of the remaining 24 bits, computed by
    * BINARY-STRING LENGTH — `bin`/`format('{:b}')` — never floor(log2),
    * which can misround at exact powers), harmonic mean with the
    * standard α₂₅₆ bias constant (computed once in Scala, inlined into
    * both engines), and the small-range linear-counting correction
    * (both engines branch on the SAME register table, so the branch
    * agrees by construction; the corrected ln goes through the standard
    * round→DECIMAL cast).
    *
    * Determinism note on the harmonic sum: each term 2^(−ρ) is an exact
    * dyadic double from a 26-entry literal table (no pow()), and every
    * partial sum of ≤256 such terms fits in ≤33 mantissa bits — so the
    * double SUM is exact under ANY aggregation order, no decimal
    * quantization needed (documented exception to the decimal-sum rule).
    *
    * Scale shape (round 6): ONE scan, ONE key shuffle. The md5 hash runs
    * over DISTINCT keys (map-side-combined distinct — ρ is a function of
    * the key, so max-over-duplicates equals max-over-distinct), the
    * (bucket → max ρ, count) aggregate reaches the shuffle at ≤ m rows,
    * and the exact distinct count — the calibration column (the q37
    * pattern: the query exhibits the error the sketch accepts) — is the
    * SUM of the per-bucket distinct counts from the same pass, not a
    * second count_distinct scan. Previously: md5 per input ROW (4× the
    * hashing at lineitem's ~4 rows/order) plus a separate
    * count_distinct scan+shuffle. */
  def hllDistinct(lineitem: DataFrame, b: Int = 8): DataFrame = {
    val spark = lineitem.sparkSession
    graft.functions.Md5Hash32.register(spark)
    val m = 1 << b
    val wBits = 32 - b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // 2^-rho for rho = 0..wBits+1, exact dyadic literals
    val powArr = array((0 to wBits + 1).map(r => lit(1.0 / (1L << r))): _*)
    val hv = hash32(col("l_orderkey"))
    val regs = lineitem
      .select(col("l_orderkey")).distinct()
      .select((hv / lit(1L << wBits)).cast("long").as("bucket"),
        (hv % lit(1L << wBits)).as("w"))
      .select(col("bucket"),
        when(col("w") === 0, lit(wBits + 1))
          .otherwise(lit(wBits + 1) - length(bin(col("w")))).as("rho"))
      .groupBy("bucket").agg(max("rho").as("rho"), count(lit(1)).as("cnt"))
    val grid = spark.range(m).select(col("id").as("bucket"))
    val stats = grid.join(regs, Seq("bucket"), "left")
      .select(coalesce(col("rho"), lit(0L)).as("rho"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .agg(sum(element_at(powArr, col("rho").cast("int") + 1)).as("harm"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).cast("long").as("n_empty"),
        sum(col("cnt")).cast("long").as("n_exact"))
    val raw = lit(alpha) * m * m / col("harm")
    val est = when(raw <= 2.5 * m && col("n_empty") > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / col("n_empty"))).otherwise(raw)
    stats
      .select(col("n_exact"), col("n_empty"),
        round(est, 6).cast(Out6).as("hll_est"),
        round((est - col("n_exact")) / col("n_exact"), 6).cast(Out6).as("rel_err"))
  }

  def hllDistinctSql(b: Int = 8): String = {
    val m = 1 << b
    val wBits = 32 - b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // every literal is cast to DOUBLE: DuckDB types a bare decimal-point
    // literal as DECIMAL and the α·m² product overflows DECIMAL(18)
    val pows = (0 to wBits + 1).map(r => s"CAST(${1.0 / (1L << r)} AS DOUBLE)")
      .mkString("[", ", ", "]")
    s"""WITH h AS (
       |  SELECT ${hash32SqlExpr("l_orderkey")} AS hv FROM lineitem
       |), rw AS (
       |  SELECT hv // ${1L << wBits} AS bucket, hv % ${1L << wBits} AS w FROM h
       |), regs AS (
       |  SELECT bucket,
       |    MAX(CASE WHEN w = 0 THEN ${wBits + 1}
       |        ELSE ${wBits + 1} - length(format('{:b}', w)) END) AS rho
       |  FROM rw GROUP BY bucket
       |), grid AS (
       |  SELECT g.i AS bucket FROM UNNEST(range($m)) AS g(i)
       |), full_regs AS (
       |  SELECT COALESCE(r.rho, 0) AS rho
       |  FROM grid LEFT JOIN regs r USING (bucket)
       |), stats AS (
       |  SELECT SUM(($pows)[rho + 1]) AS harm,
       |         CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
       |  FROM full_regs
       |), est AS (
       |  SELECT n_empty,
       |    CASE WHEN CAST($alpha AS DOUBLE) * $m * $m / harm <= CAST(${2.5 * m} AS DOUBLE)
       |              AND n_empty > 0
       |         THEN CAST(${m.toDouble} AS DOUBLE) * ln(CAST(${m.toDouble} AS DOUBLE) / n_empty)
       |         ELSE CAST($alpha AS DOUBLE) * $m * $m / harm END AS e
       |  FROM stats
       |), exact AS (
       |  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact FROM lineitem
       |)
       |SELECT x.n_exact, s.n_empty,
       |  CAST(round(s.e, 6) AS DECIMAL(18,6)) AS hll_est,
       |  CAST(round((s.e - x.n_exact) / x.n_exact, 6) AS DECIMAL(18,6)) AS rel_err
       |FROM est s CROSS JOIN exact x""".stripMargin
  }

  /** q69: windowed HyperLogLog — q64's register machinery GROUPED BY
    * day, estimating distinct users per event-day next to the exact
    * count. This is the canonical streaming-analytics shape (per-window
    * approximate distinct: one mergeable m-register sketch per window
    * instead of a per-window distinct-key shuffle) run as its batch
    * twin over event time. Empty registers are closed-form — harm adds
    * (m − present)·2⁻⁰ and n_empty = m − present — so no per-day
    * register grid is materialized; the shuffle carries ≤ m rows per
    * day. Same determinism argument as q64: exact-dyadic 2^−ρ table,
    * per-day partial sums fit 33 mantissa bits, double SUM exact under
    * any order. With ~10² users/day the small-range linear-counting
    * branch is the one exercised — the calibration columns show it. */
  def hllWindows(events: DataFrame, b: Int = 8): DataFrame = {
    val spark = events.sparkSession
    graft.functions.Md5Hash32.register(spark)
    val m = 1 << b
    val wBits = 32 - b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val powArr = array((0 to wBits + 1).map(r => lit(1.0 / (1L << r))): _*)
    val hv = hash32(col("user_id"))
    val regs = events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .select(col("day"), (hv / lit(1L << wBits)).cast("long").as("bucket"),
        (hv % lit(1L << wBits)).as("w"))
      .select(col("day"), col("bucket"),
        when(col("w") === 0, lit(wBits + 1))
          .otherwise(lit(wBits + 1) - length(bin(col("w")))).as("rho"))
      .groupBy("day", "bucket")
      .agg(max("rho").as("rho"), count(lit(1)).as("cnt"))
    val stats = regs.groupBy("day")
      .agg(sum(element_at(powArr, col("rho").cast("int") + 1)).as("harm_present"),
        count(lit(1)).as("n_present"),
        sum("cnt").cast("long").as("n_exact"))
      .select(col("day"), col("n_exact"),
        (col("harm_present") + (lit(m) - col("n_present")).cast("double")).as("harm"),
        (lit(m) - col("n_present")).cast("long").as("n_empty"))
    val raw = lit(alpha) * m * m / col("harm")
    val est = when(raw <= 2.5 * m && col("n_empty") > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / col("n_empty"))).otherwise(raw)
    stats
      .select(col("day"), col("n_exact"), col("n_empty"),
        round(est, 6).cast(Out6).as("hll_est"),
        round((est - col("n_exact")) / col("n_exact"), 6).cast(Out6).as("rel_err"))
      .orderBy("day")
  }

  def hllWindowsSql(b: Int = 8): String = {
    val m = 1 << b
    val wBits = 32 - b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val pows = (0 to wBits + 1).map(r => s"CAST(${1.0 / (1L << r)} AS DOUBLE)")
      .mkString("[", ", ", "]")
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |), h AS (
       |  SELECT day, ${hash32SqlExpr("user_id")} AS hv FROM du
       |), rw AS (
       |  SELECT day, hv // ${1L << wBits} AS bucket, hv % ${1L << wBits} AS w FROM h
       |), regs AS (
       |  SELECT day, bucket,
       |    MAX(CASE WHEN w = 0 THEN ${wBits + 1}
       |        ELSE ${wBits + 1} - length(format('{:b}', w)) END) AS rho,
       |    COUNT(*) AS cnt
       |  FROM rw GROUP BY day, bucket
       |), stats AS (
       |  SELECT day, CAST(SUM(cnt) AS BIGINT) AS n_exact,
       |    SUM(($pows)[rho + 1]) + CAST($m - COUNT(*) AS DOUBLE) AS harm,
       |    CAST($m - COUNT(*) AS BIGINT) AS n_empty
       |  FROM regs GROUP BY day
       |), est AS (
       |  SELECT day, n_exact, n_empty,
       |    CASE WHEN CAST($alpha AS DOUBLE) * $m * $m / harm <= CAST(${2.5 * m} AS DOUBLE)
       |              AND n_empty > 0
       |         THEN CAST(${m.toDouble} AS DOUBLE) * ln(CAST(${m.toDouble} AS DOUBLE) / n_empty)
       |         ELSE CAST($alpha AS DOUBLE) * $m * $m / harm END AS e
       |  FROM stats
       |)
       |SELECT day, n_exact, n_empty,
       |  CAST(round(e, 6) AS DECIMAL(18,6)) AS hll_est,
       |  CAST(round((e - n_exact) / n_exact, 6) AS DECIMAL(18,6)) AS rel_err
       |FROM est ORDER BY day""".stripMargin
  }

  /** q65: Count-Min sketch frequency estimation — the bounded-memory
    * frequency table (d=4 rows × w=256 counters) that answers "how
    * often does key x occur" with a one-sided error: est ≥ exact
    * always, est ≤ exact + εN with probability 1−(1/2)ᵈ. Like q64's
    * HLL, every step is recomputed identically by the oracle: row-i
    * position = md5-hash32 of "i:word" mod w (row salt in the hashed
    * string — d independent hash functions from the one shared
    * primitive), counters are one map-side-combined (row, pos)
    * aggregate (≤ d·w rows reach the shuffle at ANY corpus size), and
    * the estimate is the MIN over the d counters hit by the key,
    * reported next to the exact count for the top-k words (the q37/q64
    * calibration pattern — the query exhibits the error being
    * accepted). The one-sided bound is spec-enforced, not assumed. */
  def cmsFreq(docs: DataFrame, d: Int = 4, w: Int = 256, topK: Int = 10): DataFrame = {
    // Round-6 shape: the counter position is a function of the WORD, so
    // hash the distinct vocabulary weighted by its occurrence count —
    // SUM(n) per (row, pos) equals the per-occurrence COUNT(*) exactly —
    // instead of md5-hashing every token occurrence d times. One
    // tokenize+count shuffle (map-side combined) feeds the counter
    // build, the top-k, and the probes; sketch-build hashing is
    // O(vocabulary), not O(corpus) — the shape that survives 100 TB.
    graft.functions.Md5Hash32.register(docs.sparkSession)
    val wordCounts = docs
      .select(explode(graft.text.Tokenize.rawTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .loopCheckpoint(true) // vocab-sized; consumed by counters AND top-k
    val posFor = (i: Int, word: Column) =>
      (hash32(concat(lit(s"$i:"), word)) % w).cast("long")
    val counters = wordCounts
      .select(col("n"),
        posexplode(array((0 until d).map(i => posFor(i, col("word"))): _*))
          .as(Seq("row", "pos")))
      .groupBy("row", "pos").agg(sum("n").as("c"))
    val top = wordCounts.withColumnRenamed("n", "n_exact")
      .orderBy(desc("n_exact"), asc("word")).limit(topK)
    val probes = top
      .select(col("word"), col("n_exact"),
        posexplode(array((0 until d).map(i => posFor(i, col("word"))): _*))
          .as(Seq("row", "pos")))
    probes.join(counters, Seq("row", "pos"))
      .groupBy("word").agg(first("n_exact").cast("long").as("n_exact"),
        min("c").cast("long").as("cm_est"))
      .select(col("word"), col("n_exact"), col("cm_est"),
        (col("cm_est") - col("n_exact")).cast("long").as("overcount"))
      .orderBy(desc("n_exact"), asc("word"))
  }

  def cmsFreqSql(d: Int = 4, w: Int = 256, topK: Int = 10): String = {
    val posSql = (i: Int) => s"(${hash32SqlExpr(s"('$i:' || word)")} % $w)"
    val posRows = (0 until d).map(i => s"SELECT $i AS row, ${posSql(i)} AS pos, word FROM words")
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT u.word
       |  FROM documents, UNNEST(${graft.text.Tokenize.rawTokensSql("text")}) AS u(word)
       |), words AS (SELECT word FROM toks),
       |positions AS (
       |  $posRows
       |), counters AS (
       |  SELECT row, pos, count(*) AS c FROM positions GROUP BY row, pos
       |), top AS (
       |  SELECT word, count(*) AS n_exact FROM toks GROUP BY word
       |  ORDER BY n_exact DESC, word ASC LIMIT $topK
       |), probes AS (
       |  ${(0 until d).map(i => s"SELECT word, n_exact, $i AS row, ${posSql(i)} AS pos FROM top")
            .mkString("\n  UNION ALL ")}
       |)
       |SELECT p.word, CAST(any_value(p.n_exact) AS BIGINT) AS n_exact,
       |  CAST(MIN(c.c) AS BIGINT) AS cm_est,
       |  CAST(MIN(c.c) - any_value(p.n_exact) AS BIGINT) AS overcount
       |FROM probes p JOIN counters c USING (row, pos)
       |GROUP BY p.word ORDER BY n_exact DESC, word ASC""".stripMargin
  }

  /** q66: KMV set operations — per-source vocabulary sketches merged
    * pairwise into union-size and Jaccard estimates, NEXT TO the exact
    * Jaccard (the q37/d10 calibration pattern). This is the sketch
    * family's missing piece: KMV sketches are MERGEABLE, so pairwise
    * overlap across S sources costs S sketches of k longs plus
    * sketch-side merges — never a cross-source vocabulary join. At
    * 100 TB the corpus-side cost is one distinct (source, hash) scan
    * (O(per-source vocab), sublinear in corpus by Heaps' law — the
    * x-family cost class); everything pairwise happens on S·k rows.
    *
    * Estimators (both engines recompute from the same md5 hashes):
    * union size = (k−1)·2³²/h_k over the merged k-minimum; Jaccard =
    * fraction of the merged k-minimum present in both sketches (the
    * standard KMV coincidence estimator). */
  def kmvSetOps(docs: DataFrame, k: Int = K): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.Md5Hash32.register(spark)
    // distinct (source, token-hash): the one corpus-scale aggregate
    val h = docs
      .select(col("source"),
        explode(graft.text.Tokenize.rawTokens(col("text"))).as("tok"))
      .select(col("source"), hash32(col("tok")).as("hv"))
      .distinct()
      .loopCheckpoint(true)
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(asc("hv"))
    val sk = h.withColumn("rk", row_number().over(ws)).filter(col("rk") <= k)
      .select(col("source"), col("hv"))
      .loopCheckpoint(true) // S·k rows — sketch-side from here on
    val srcs = sk.select("source").distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(srcs.select(col("source").as("sb")))
      .filter(col("sa") < col("sb"))
    // merged sketch per pair with per-side membership flags
    val mem = pairs.join(broadcast(sk),
        sk("source") === col("sa") || sk("source") === col("sb"))
      .groupBy("sa", "sb", "hv")
      .agg(max(when(col("source") === col("sa"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("source") === col("sb"), 1L).otherwise(0L)).as("in_b"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("sa", "sb").orderBy(asc("hv"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("sa", "sb")
    val ranked = mem.withColumn("rk", row_number().over(wp))
      .withColumn("n_h", count(lit(1)).over(wn))
      .filter(col("rk") <= k)
    val est = ranked.groupBy("sa", "sb")
      .agg(sum(col("in_a") * col("in_b")).as("n_both"),
        count(lit(1)).as("n_kmin"),
        max(when(col("rk") === least(col("n_h"), lit(k.toLong)), col("hv"))).as("hk"),
        max(col("n_h")).as("n_h"))
      .select(col("sa"), col("sb"), col("n_both"),
        round(when(col("n_h") < k, col("n_h").cast("double"))
          .otherwise(lit((k - 1).toDouble * 4294967296.0) / col("hk")), 6)
          .cast(Out6).as("union_est"),
        round(col("n_both").cast("double") / col("n_kmin"), 6)
          .cast(Out6).as("jaccard_est"))
    // exact hashed-vocab Jaccard — the cost the sketch replaces, kept
    // as the calibration column
    val sizes = h.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = h.select(col("source").as("sa"), col("hv"))
      .join(h.select(col("source").as("sb"), col("hv")), Seq("hv"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(broadcast(sizes.select(col("source").as("sa"), col("n").as("na"))), Seq("sa"))
      .join(broadcast(sizes.select(col("source").as("sb"), col("n").as("nb"))), Seq("sb"))
      .join(inter, Seq("sa", "sb"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .join(est, Seq("sa", "sb"))
      .select(col("sa"), col("sb"), col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")), 6).cast(Out6).as("jaccard"),
        col("jaccard_est"), col("union_est"))
      .orderBy("sa", "sb")
  }

  /** Oracle for [[kmvSetOps]]: same sketches from the same md5 hashes
    * via window order statistics, same estimators, same exact
    * calibration join. */
  def kmvSetOpsSql(k: Int = K): String =
    s"""WITH h AS (
       |  SELECT DISTINCT source, ${hash32SqlExpr("u.tok")} AS hv
       |  FROM documents, UNNEST(${graft.text.Tokenize.rawTokensSql("text")}) AS u(tok)
       |), sk AS (
       |  SELECT source, hv FROM (
       |    SELECT source, hv,
       |      row_number() OVER (PARTITION BY source ORDER BY hv) AS rk
       |    FROM h) t WHERE rk <= $k
       |), srcs AS (SELECT DISTINCT source FROM sk),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM srcs a JOIN srcs b ON a.source < b.source
       |), mem AS (
       |  SELECT p.sa, p.sb, s.hv,
       |    MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
       |    MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
       |  FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
       |  GROUP BY p.sa, p.sb, s.hv
       |), ranked AS (
       |  SELECT sa, sb, hv, in_a, in_b,
       |    row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rk,
       |    count(*) OVER (PARTITION BY sa, sb) AS n_h
       |  FROM mem
       |), est AS (
       |  SELECT sa, sb,
       |    CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
       |    count(*) AS n_kmin,
       |    MAX(CASE WHEN rk = least(n_h, $k) THEN hv END) AS hk,
       |    MAX(n_h) AS n_h
       |  FROM ranked WHERE rk <= $k GROUP BY sa, sb
       |), esti AS (
       |  SELECT sa, sb, n_both,
       |    round(CASE WHEN n_h < $k THEN CAST(n_h AS DOUBLE)
       |          ELSE ${k - 1} * 4294967296.0 / hk END, 6) AS union_est,
       |    round(CAST(n_both AS DOUBLE) / n_kmin, 6) AS jaccard_est
       |  FROM est
       |), sizes AS (SELECT source, count(*) AS n FROM h GROUP BY source),
       |inter AS (
       |  SELECT a.source AS sa, b.source AS sb, count(*) AS n_inter
       |  FROM h a JOIN h b ON a.hv = b.hv AND a.source < b.source
       |  GROUP BY a.source, b.source
       |)
       |SELECT p.sa, p.sb,
       |  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       |  CAST(round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
       |    (za.n + zb.n - COALESCE(i.n_inter, 0)), 6) AS DECIMAL(18,6)) AS jaccard,
       |  CAST(e.jaccard_est AS DECIMAL(18,6)) AS jaccard_est,
       |  CAST(e.union_est AS DECIMAL(18,6)) AS union_est
       |FROM pairs p
       |JOIN sizes za ON za.source = p.sa
       |JOIN sizes zb ON zb.source = p.sb
       |LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
       |JOIN esti e ON e.sa = p.sa AND e.sb = p.sb
       |ORDER BY p.sa, p.sb""".stripMargin

  /** q94: HDR-histogram quantiles — the mergeable percentile sketch a
    * latency/price dashboard runs on at any scale (HdrHistogram's
    * public design: exponent buckets refined by `m` mantissa bits →
    * bounded RELATIVE error 2^-m with a FIXED bucket universe).
    *
    * Construction is pure integer arithmetic, identical in both
    * engines: cents = round(value·100) (exact — inputs are 2-dp-origin
    * doubles, so v·100 is within ~1e-9 of an integer and never near a
    * rounding tie; grid-tie inputs would need the q88 integer-micro
    * discipline instead), exponent e = length(bin(cents)) − 1, shift
    * sh = max(e − m, 0), bucket lower bound lb = (cents >> sh) << sh.
    * Values with e ≤ m are EXACT (shift 0). The histogram is a grouped
    * count on lb — ≤ 64·2^m buckets total, so the table is
    * metadata-sized at ANY corpus and bucket counts MERGE by addition
    * (per-partition, per-day, per-shard — the sketch property).
    * Quantile q reads the first bucket whose cumulative count reaches
    * ceil(q·n): one ordered window over the bounded bucket table (the
    * unpartitioned window is safe — the frame is sketch-sized, never
    * corpus-sized), then a broadcast probe per target.
    *
    * Estimates are the bucket LOWER bound: est ≤ true quantile <
    * est + 2^sh, i.e. relative error < 2^-m (~3.1% at m=5) —
    * spec-asserted against the exact quantiles. */
  def hdrQuantiles(orders: DataFrame, mantissaBits: Int = 5,
                   qs: Seq[String] = Seq("0.50", "0.90", "0.99")): DataFrame = {
    val m = mantissaBits
    val hist = orders
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .select(col("cents"),
        greatest((length(bin(col("cents"))) - 1).cast("int") - m, lit(0)).as("sh"))
      .select(expr("shiftleft(shiftright(cents, sh), sh)").as("lb"))
      .groupBy("lb").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("lb").rowsBetween(Long.MinValue, 0)
    val cum = hist.select(col("lb"), sum("c").over(w).as("cum"))
      .loopCheckpoint(true) // sketch-sized; feeds the total AND every probe
    val tot = cum.agg(max("cum").as("n"))
    import orders.sparkSession.implicits._
    val targets = qs.toDF("q")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(targets))
      .filter(col("cum") >=
        ceil(col("q").cast(DecimalType(8, 2)) * col("n")).cast("long"))
      .groupBy("q")
      .agg(min("lb").as("est_cents"), min("n").as("n"))
      .orderBy("q")
  }

  def hdrQuantilesSql(mantissaBits: Int = 5,
                      qs: Seq[String] = Seq("0.50", "0.90", "0.99")): String = {
    val m = mantissaBits
    val vals = qs.map(q => s"('$q')").mkString(", ")
    s"""WITH cents_t AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
       |), sh_t AS (
       |  SELECT cents,
       |    CASE WHEN length(bin(cents)) - 1 - $m > 0
       |         THEN length(bin(cents)) - 1 - $m ELSE 0 END AS sh
       |  FROM cents_t
       |), hist AS (
       |  SELECT (cents >> sh) << sh AS lb, count(*) AS c FROM sh_t GROUP BY 1
       |), cum_t AS (
       |  SELECT lb, SUM(c) OVER (ORDER BY lb ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM hist
       |), tot AS (SELECT MAX(cum) AS n FROM cum_t),
       |targets(q) AS (VALUES $vals)
       |SELECT q, CAST(MIN(lb) AS BIGINT) AS est_cents, CAST(MIN(n) AS BIGINT) AS n
       |FROM cum_t, tot, targets
       |WHERE cum >= CAST(ceil(CAST(q AS DECIMAL(8,2)) * n) AS BIGINT)
       |GROUP BY q ORDER BY q""".stripMargin
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q37_kmv_distinct", (s, dir) => kmvDistinct(Tables.events(s, dir)),
      () => kmvDistinctSql(), Seq("kmv_est")),
    QuerySpec("q38_heavy_hitters", (s, dir) => heavyHitters(Tables.documents(s, dir)),
      () => heavyHittersSql()),
    QuerySpec("q64_hll_distinct", (s, dir) => hllDistinct(Tables.lineitem(s, dir)),
      () => hllDistinctSql(), Seq("hll_est", "rel_err")),
    QuerySpec("q69_hll_windows", (s, dir) => hllWindows(Tables.events(s, dir)),
      () => hllWindowsSql(), Seq("hll_est", "rel_err")),
    QuerySpec("q65_cms_freq", (s, dir) => cmsFreq(Tables.documents(s, dir)), () => cmsFreqSql()),
    QuerySpec("q66_kmv_setops", (s, dir) => kmvSetOps(Tables.documents(s, dir)),
      () => kmvSetOpsSql(), Seq("jaccard", "jaccard_est", "union_est")),
    QuerySpec("q94_hdr_quantiles", (s, dir) => hdrQuantiles(Tables.orders(s, dir)),
      () => hdrQuantilesSql()),
  )
}
