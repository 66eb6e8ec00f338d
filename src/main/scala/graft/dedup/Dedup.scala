package graft.dedup

import graft.QuerySpec
import graft.plans.Lineage.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Materialized
import graft.sources.Tables
import graft.text.Tokenize

/** Deduplication operators for training-data curation: exact (hash),
  * MinHash+LSH near-dup, n-gram Jaccard, SimHash (builder brief — these
  * are first-class engine components beyond the reference's surface).
  *
  * Scale design (the point of each operator):
  *  - exact: one hash aggregate on md5(text) — shuffles the 16-byte hash,
  *    never the text.
  *  - MinHash signatures: two md5 calls per shingle split into 8 32-bit
  *    lanes, min-aggregated with map-side combine — only 8 small lane
  *    strings per document reach the shuffle.
  *  - LSH: candidate pairs come from an equi-join on band keys — the
  *    classic band-bucket trick that replaces the O(n²) cross join; the
  *    exact Jaccard verify runs only on candidates.
  *  - SimHash: 32-bit signature via explode + 32 partial-aggregated sums;
  *    near-pairs blocked on 4×8-bit sub-keys (pigeonhole: any pair with
  *    hamming ≤ 3 shares at least one exact block), again an equi-join.
  *
  * Hash function note: cross-engine determinism requires a hash both
  * Spark and DuckDB implement identically — md5 (hex string) is the only
  * such primitive, so min-hashes are lexicographic minima of md5 hex
  * strings and SimHash bits come from md5 hex digits. A production port
  * could swap in xxhash64 Catalyst-side for speed; semantics identical.
  */
object Dedup {
  // hashed-output type for jaccard/overlap ratios: a rounded 6-dp value
  // is exact as DECIMAL(18,6) on both engines, where a trailing DOUBLE
  // hashes engine-specific bit patterns (VERDICT r4, the m3 class)
  private val Out6 = org.apache.spark.sql.types.DecimalType(18, 6)
  // --------------------------------------------------------- exact dedup

  /** Exact dedup: representative (min doc_id) per distinct text hash.
    * The returned frame is the deduplicated corpus id set. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Dup-group histogram: how many groups of each multiplicity. */
  def dupHistogram(docs: DataFrame): DataFrame =
    exactDedup(docs).groupBy("n_copies").agg(count(lit(1)).as("n_groups"))

  /** Incremental-ingest dedup — the daily-delta shape: an incoming batch
    * (doc_id % 5 == 0, a deterministic stand-in for "today's crawl") is
    * admitted against the accumulated corpus (the rest) with three
    * fates: `dup_of_corpus` (text hash already indexed), `dup_in_batch`
    * (an earlier doc in the same batch has the hash; min doc_id wins),
    * `admitted`.
    *
    * The 100 TB posture is the point: the corpus side joins as its
    * 16-byte md5 hash set ONLY — the persisted artifact a production
    * ingest keeps between runs — so the delta join shuffles hashes,
    * never text, and its build side is the (much smaller) incoming
    * batch under broadcast when it fits. */
  def incrementalIngest(docs: DataFrame): DataFrame = {
    val h = md5(col("text").cast("binary"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0).select(h.as("h")).distinct()
    val incoming = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), h.as("h"))
      .loopCheckpoint(true) // consumed by the fate join AND the min-id branch
    val firsts = incoming.groupBy("h").agg(min("doc_id").as("first_id"))
    incoming
      .join(corpus.withColumn("in_corpus", lit(1L)), Seq("h"), "left_outer")
      .join(firsts, "h")
      .select(col("doc_id"),
        when(col("in_corpus").isNotNull, "dup_of_corpus")
          .when(col("doc_id") =!= col("first_id"), "dup_in_batch")
          .otherwise("admitted").as("fate"))
      .orderBy("doc_id")
  }

  def incrementalIngestSql: String =
    """WITH inc AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0),
      |corp AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 != 0),
      |firsts AS (SELECT h, min(doc_id) AS first_id FROM inc GROUP BY h)
      |SELECT i.doc_id,
      |  CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
      |       WHEN i.doc_id != f.first_id THEN 'dup_in_batch'
      |       ELSE 'admitted' END AS fate
      |FROM inc i LEFT JOIN corp c ON i.h = c.h JOIN firsts f ON i.h = f.h
      |ORDER BY i.doc_id""".stripMargin

  /** d21: near-dup incremental ingest — [[incrementalIngest]]'s exact-hash
    * fates extended with the near-dup fate a production ingest also needs
    * (VERDICT r7 #2). The corpus side PERSISTS its between-runs state to
    * the Artifacts namespace: the LSH band index (doc_id, band, key) and
    * the verify artifact (doc_id, hashed shingle set, set size) — and the
    * delta joins against the read-back files, never against corpus text.
    *
    * Fates in priority order: `dup_of_corpus` (exact md5 already indexed)
    * > `dup_in_batch` (an earlier delta doc has the hash) >
    * `near_dup_of_corpus` (a band-key collision with a corpus doc,
    * verified at shingle Jaccard ≥ minJaccard) > `admitted`.
    *
    * 100 TB posture: candidates come from the banded equi-join of the
    * delta's 8 band keys against the persisted index — never all-pairs —
    * and verification ships hashed shingle arrays for candidate ids only.
    * The delta side is the small side throughout (broadcastable when a
    * day's crawl fits). */
  def nearDupIngest(s: SparkSession, dir: String, minJaccard: Double = 0.5): DataFrame = {
    graft.functions.SortedIntersectCount.register(s)
    val docs = Tables.documents(s, dir)
    val h = md5(col("text").cast("binary"))
    val corpusHashes = docs.filter(col("doc_id") % 5 =!= 0).select(h.as("h")).distinct()
    val incoming = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), h.as("h")).loopCheckpoint(true)
    val firsts = incoming.groupBy("h").agg(min("doc_id").as("first_id"))

    val (corpusBands, corpusSets) = d21CorpusIndex(s, dir)
    val delta = dedupShared(s, dir).filter(col("doc_id") % 5 === 0)
    val deltaBands = delta.select(col("doc_id"),
      posexplode(array((0 until 8).map(i => col(s"mh$i")): _*)).as(Seq("band", "key")))
    val cand = deltaBands.as("a").join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.doc_id").as("did"), col("b.doc_id").as("cid")).distinct()
    val near = cand
      .join(delta.select(col("doc_id").as("did"), col("shh").as("sa"), col("n").as("na")), "did")
      .join(corpusSets.select(col("doc_id").as("cid"), col("shh").as("sb"), col("n").as("nb")), "cid")
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("sa"), col("sb")).cast("int"))
      .filter(round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
        .cast(Out6) >= minJaccard)
      .select(col("did").as("doc_id")).distinct().withColumn("near", lit(1L))
    incoming
      .join(corpusHashes.withColumn("in_corpus", lit(1L)), Seq("h"), "left_outer")
      .join(firsts, "h")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("in_corpus").isNotNull, "dup_of_corpus")
          .when(col("doc_id") =!= col("first_id"), "dup_in_batch")
          .when(col("near").isNotNull, "near_dup_of_corpus")
          .otherwise("admitted").as("fate"))
      .orderBy("doc_id")
  }

  /** The persisted corpus-side index for [[nearDupIngest]]: band index +
    * shingle-set verify artifact, written once per (session, sf-dir) to
    * the Artifacts namespace and served read-back — the files a
    * production ingest would keep between runs. */
  private def d21CorpusIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val bandsPath = graft.sources.Artifacts.path(s"d21_bands_${Tables.norm(dir)}")
    val setsPath = graft.sources.Artifacts.path(s"d21_sets_${Tables.norm(dir)}")
    // the memoized 1-row token only GATES the writes (once per session +
    // sf-dir); consumers scan the parquet directly, so the read-back
    // files appear in their plans (PlanAuditSpec pins this — a
    // checkpointed read-back frame would hide the artifact behind an
    // ExistingRDD scan and double-pin the shingle arrays in block memory)
    Materialized(s, s"d21_artifact:${Tables.norm(dir)}") {
      val corpus = dedupShared(s, dir).filter(col("doc_id") % 5 =!= 0)
      corpus.select(col("doc_id"),
          posexplode(array((0 until 8).map(i => col(s"mh$i")): _*)).as(Seq("band", "key")))
        .write.mode("overwrite").parquet(bandsPath)
      corpus.select("doc_id", "shh", "n").write.mode("overwrite").parquet(setsPath)
      s.range(1).toDF("ok")
    }
    (s.read.parquet(bandsPath), s.read.parquet(setsPath))
  }

  /** Oracle for [[nearDupIngest]] — recomputes the whole pipeline
    * (including the persisted index's content) from `documents`. */
  def nearDupIngestSql(minJaccard: Double = 0.5): String = {
    val bandKeys = (0 until 8).map(i => s"mh$i").mkString(", ")
    s"""WITH corp_docs AS (SELECT * FROM documents WHERE doc_id % 5 != 0),
       |delta_docs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
       |inc AS (SELECT doc_id, md5(text) AS h FROM delta_docs),
       |corph AS (SELECT DISTINCT md5(text) AS h FROM corp_docs),
       |firsts AS (SELECT h, min(doc_id) AS first_id FROM inc GROUP BY h),
       |basec AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM corp_docs),
       |based AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM delta_docs),
       |sigc AS (
       |  ${minhashLanesSql("corp_docs").replace("\n", "\n  ")}
       |), sigd AS (
       |  ${minhashLanesSql("delta_docs").replace("\n", "\n  ")}
       |), bandc AS (
       |  SELECT doc_id, u.band, [$bandKeys][u.band + 1] AS key
       |  FROM sigc, UNNEST(range(8)) AS u(band)
       |), bandd AS (
       |  SELECT doc_id, u.band, [$bandKeys][u.band + 1] AS key
       |  FROM sigd, UNNEST(range(8)) AS u(band)
       |), cand AS (
       |  SELECT DISTINCT d.doc_id AS did, c.doc_id AS cid
       |  FROM bandd d JOIN bandc c ON d.band = c.band AND d.key = c.key
       |), near AS (
       |  SELECT DISTINCT p.did
       |  FROM cand p JOIN based sa ON p.did = sa.doc_id
       |              JOIN basec sb ON p.cid = sb.doc_id
       |  WHERE CAST(round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |          (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
       |        AS DECIMAL(18,6)) >= $minJaccard
       |)
       |SELECT i.doc_id,
       |  CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
       |       WHEN i.doc_id != f.first_id THEN 'dup_in_batch'
       |       WHEN n.did IS NOT NULL THEN 'near_dup_of_corpus'
       |       ELSE 'admitted' END AS fate
       |FROM inc i LEFT JOIN corph c ON i.h = c.h
       |  JOIN firsts f ON i.h = f.h
       |  LEFT JOIN near n ON i.doc_id = n.did
       |ORDER BY i.doc_id""".stripMargin
  }

  /** d22: blocked fuzzy-match join — the entity-resolution shape exact
    * and shingle dedup both miss: records that refer to the same entity
    * through a TYPO (one or two character edits), which hash to
    * different md5s and mostly different shingles. Standard two-stage
    * plan: a cheap BLOCKING key (here the 16-char name prefix) turns
    * the quadratic all-pairs problem into an equi-join with bounded
    * blocks, then `levenshtein` verifies each candidate pair — the
    * expensive O(len²) distance runs only inside blocks. Both engines
    * implement classic unit-cost Levenshtein, so the verify is
    * integer-exact cross-engine; the output is the per-distance pair
    * census (the data-quality signal a dedup pipeline alerts on).
    *
    * 100 TB posture: the blocking join shuffles on the block key
    * (AQE-splittable; a production blocker uses several redundant keys
    * — prefix, phonetic, sorted-token — unioned, each with the same
    * shape); distance never runs across blocks. */
  /** Per-block row cap above which the blocking self-join switches to
    * the triangle bucket-pair decomposition ([[blockedCandidatePairs]]).
    * Chosen so a single cold block enumerates ≤ ~0.5M pairs per task —
    * fine-grained enough for AQE, coarse enough that the gate corpora
    * (blocks of ≤ ~1000 rows by the name format) stay on the plain
    * zero-replication plan the round-11 probe measured as optimal
    * there. */
  private[graft] val BlockCap = 1024

  /** Hot-block fan-out width: an over-cap block's pair census splits
    * into S(S+1)/2 independent cells of ~ (n/S)² pairs each. */
  private[graft] val BlockSplit = 16

  /** Skew-capped blocked candidate pairs (VERDICT r11 item 3): the
    * EXACT pair set of `SELF-JOIN ON blk WHERE a.key < b.key`, with the
    * quadratic work of any block larger than [[BlockCap]] decomposed
    * into triangle bucket-pair cells so no single task owns a hot
    * block's whole pair census.
    *
    * Mechanics: block sizes are one cheap aggregate; the (few, by
    * definition) over-cap block KEYS broadcast to split the input into
    * a cold side (plain self-join — zero replication, the measured-
    * optimal plan when blocks are bounded) and a hot side, where each
    * row gets bucket u = pmod(hash(key), S) and
    *  - DIAGONAL cells: within-bucket self-join on (blk, u) with the
    *    usual key ordering;
    *  - CROSS cells (i < j): the bucket-i row replicated as the left
    *    member of cells (i, j) for j > i, the bucket-j row as the right
    *    member of cells (i, j) for i < j; a pair with buckets (u, v),
    *    u ≠ v, meets in EXACTLY the cell (min(u,v), max(u,v)) — so the
    *    union is a partition of the pair set, not an approximation
    *    (spec-pinned equal to the plain join on a forced-hot corpus).
    * Output keys are canonicalized (a_key < b_key) so downstream
    * consumers see the identical frame either way.
    *
    * 100 TB posture: replication cost is 2(S−1) copies of HOT rows
    * only; each cell is an equi-join task of ~ (n_blk/S)² pairs, so a
    * power-law name distribution (the real-corpus failure mode the
    * prefix blocker invites) degrades into S(S+1)/2-way parallelism
    * instead of one straggler task. */
  private[graft] def blockedCandidatePairs(c: DataFrame, cap: Int = BlockCap,
                                           s: Int = BlockSplit): DataFrame = {
    val hotKeys = c.groupBy("blk").agg(count(lit(1)).as("blk_n"))
      .filter(col("blk_n") > cap).select("blk")
    def canon(a: String, b: String) = Seq(
      least(col(s"$a.c_custkey"), col(s"$b.c_custkey")).as("a_key"),
      greatest(col(s"$a.c_custkey"), col(s"$b.c_custkey")).as("b_key"),
      when(col(s"$a.c_custkey") < col(s"$b.c_custkey"), col(s"$a.c_name"))
        .otherwise(col(s"$b.c_name")).as("a_name"),
      when(col(s"$a.c_custkey") < col(s"$b.c_custkey"), col(s"$b.c_name"))
        .otherwise(col(s"$a.c_name")).as("b_name"))
    // EXPLICIT numbered repartitions on the block/cell keys: the pair
    // census' shuffle BYTES are tiny while its per-block join COST is
    // quadratic, so AQE's byte-based coalescing merges everything into
    // one task and serializes the whole enumeration + levenshtein
    // (measured round 16: d24's pair job = 3.4 s on ONE core of 32; the
    // hot path measured the same effect in round 12 — 69 → 33 s without
    // the pin, 69 → 4.1 s with, on the 4500-row-hot-block skew corpus).
    // A user-specified numPartitions is exempt from AQE coalescing and
    // the self-join reuses the partitioning (zero further exchange).
    val n = c.sparkSession.sessionState.conf.numShufflePartitions
    val cold = c.join(broadcast(hotKeys), Seq("blk"), "left_anti")
      .repartition(n, col("blk"))
    val coldPairs = cold.as("a").join(cold.as("b"),
        col("a.blk") === col("b.blk") && col("a.c_custkey") < col("b.c_custkey"))
      .select(canon("a", "b"): _*)
    val hot = c.join(broadcast(hotKeys), Seq("blk"))
      .withColumn("bkt", pmod(hash(col("c_custkey")), lit(s)))
    val hotDiag = hot.repartition(n, col("blk"), col("bkt"))
    val diagPairs = hotDiag.as("a").join(hotDiag.as("b"),
        col("a.blk") === col("b.blk") && col("a.bkt") === col("b.bkt") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(canon("a", "b"): _*)
    val cells = hot.withColumn("o", explode(sequence(lit(0), lit(s - 1))))
    val left = cells.filter(col("o") > col("bkt"))
      .select(col("blk"), col("bkt").as("ci"), col("o").as("cj"),
        col("c_custkey"), col("c_name"))
      .repartition(n, col("blk"), col("ci"), col("cj"))
    val right = cells.filter(col("o") < col("bkt"))
      .select(col("blk"), col("o").as("ci"), col("bkt").as("cj"),
        col("c_custkey"), col("c_name"))
      .repartition(n, col("blk"), col("ci"), col("cj"))
    val crossPairs = left.as("a").join(right.as("b"),
        col("a.blk") === col("b.blk") && col("a.ci") === col("b.ci") &&
          col("a.cj") === col("b.cj"))
      .select(canon("a", "b"): _*)
    coldPairs.unionByName(diagPairs).unionByName(crossPairs)
  }

  def fuzzyNameMatch(customer: DataFrame, maxDist: Int = 2): DataFrame = {
    // NOTE (round-11 probe): on this corpus the 16-char prefix block is
    // bounded (≤ ~1000 rows by the name format), so the plain self-join
    // is the measured-optimal plan — an UNCONDITIONAL triangle
    // decomposition was measured FLAT-to-worse (2.35 → 2.6-2.8 s at
    // S=8 and S=32) because pair enumeration, not the levenshtein,
    // dominates. Round 12 (VERDICT item 3): the decomposition is now
    // SIZE-GATED via blockedCandidatePairs — the gate corpus stays on
    // the plain plan, while an over-cap hot block (the real-corpus
    // power-law name regime) splits into bounded cells.
    val c = customer.select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 1, 16).as("blk"))
      .loopCheckpoint(true) // both sides of the blocking self-join
    // levenshtein is the GROUP KEY, and the range filter runs on the
    // CHECKPOINTED aggregate (≤ name-length rows): without the barrier
    // the optimizer pushes `dist BETWEEN 1 AND 2` through the aggregate
    // back into the JOIN CONDITION, where levenshtein evaluates 2×
    // per block-pair row (before the cheap custkey check) plus once in
    // the projection — measured 11.1 s; with the barrier one eval per
    // pair, 2.9 s at sf0.1 (742 k pairs)
    // Banded group key: the threshold overload computes the exact
    // distance when ≤ maxDist and collapses everything past the band
    // to -1 in O(len·k) instead of O(len²) — the -1 and 0 groups die
    // in the census filter below, so the kept rows are bit-identical
    // to the full-DP form.
    val census = blockedCandidatePairs(c)
      .groupBy(levenshtein(col("a_name"), col("b_name"), maxDist).as("dist"))
      .agg(count(lit(1)).as("n_pairs"))
      .loopCheckpoint(true) // tiny: one row per distinct distance
    census.filter(col("dist") >= 1 && col("dist") <= maxDist)
      .orderBy("dist")
  }

  def fuzzyNameMatchSql(maxDist: Int = 2): String =
    s"""SELECT dist, n_pairs FROM (
       |  SELECT CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist,
       |    count(*) AS n_pairs
       |  FROM (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer) a
       |  JOIN (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer) b
       |    ON a.blk = b.blk AND a.c_custkey < b.c_custkey
       |  GROUP BY 1)
       |WHERE dist BETWEEN 1 AND $maxDist ORDER BY dist""".stripMargin

  /** d24: end-to-end entity resolution (record linkage) — the composed
    * workload d22's census only measures: blocked fuzzy pair generation
    * (16-char name prefix block, levenshtein 1..`maxDist` IN the join
    * condition so non-matching pairs die before materializing — the
    * correct plan at scale), transitive closure over the match graph
    * ([[graft.graph.Graph.connectedComponents]] — a~b, b~c merge even
    * when a~c was never compared), and per-entity consolidation:
    * record count, canonical name (min_by custkey — unique keys, so the
    * argmin is total), exact-decimal balance roll-up. Unmatched records
    * form singleton entities under their own key.
    *
    * The oracle rebuilds the closure independently (recursive CTE), so
    * a missed or spurious merge on either engine breaks the count/name/
    * balance of every affected entity row — entity membership is
    * hash-checked, not just pair counts. */
  def entityResolution(customer: DataFrame, maxDist: Int = 2): DataFrame = {
    val c = customer.select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 1, 16).as("blk"))
      .loopCheckpoint(true) // both sides of the blocking self-join
    // `lev BETWEEN 1 AND k` in a join condition evaluates the full
    // O(len²) DP twice per enumerated pair (no subexpression reuse in
    // join predicates — d22's measured 2× pathology). Equivalent form
    // with ONE banded evaluation: dist ≥ 1 ⟺ names differ (a free
    // string compare), and the threshold overload runs the O(len·k)
    // banded DP that bails to -1 past `maxDist` — measured 11.2 s →
    // 2.9 s at sf0.1 (same driver-gate output). Candidate enumeration
    // goes through the size-gated skew decomposition (VERDICT r11
    // item 3) — on the cold path Catalyst pushes this filter straight
    // back into the join condition, reproducing the round-11 plan.
    val pairs = blockedCandidatePairs(c)
      .filter(col("a_name") =!= col("b_name") &&
        levenshtein(col("a_name"), col("b_name"), maxDist) =!= -1)
      .select(col("a_key").as("src"), col("b_key").as("dst"))
    val ents = graft.graph.Graph.connectedComponents(pairs)
      .select(col("id").as("c_custkey"), col("component").as("entity"))
    customer.join(ents, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        coalesce(col("entity"), col("c_custkey")).as("entity"))
      .groupBy("entity")
      .agg(count(lit(1)).as("n_records"),
        min_by(col("c_name"), col("c_custkey")).as("canonical_name"),
        sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(20, 4)))
          .cast("double").as("total_acctbal"))
      .orderBy("entity")
  }

  def entityResolutionSql(maxDist: Int = 2): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a.c_custkey AS src, b.c_custkey AS dst
       |  FROM (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer) a
       |  JOIN (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer) b
       |    ON a.blk = b.blk AND a.c_custkey < b.c_custkey
       |      AND levenshtein(a.c_name, b.c_name) BETWEEN 1 AND $maxDist
       |), und AS (
       |  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
       |), v AS (SELECT src AS id FROM und UNION SELECT dst FROM und),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id),
       |ents AS (SELECT id AS c_custkey, min(lbl) AS entity FROM reach GROUP BY id)
       |SELECT COALESCE(e.entity, c.c_custkey) AS entity,
       |  COUNT(*) AS n_records,
       |  min_by(c.c_name, c.c_custkey) AS canonical_name,
       |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS total_acctbal
       |FROM customer c LEFT JOIN ents e USING (c_custkey)
       |GROUP BY 1 ORDER BY entity""".stripMargin

  // ------------------------------------------------------------- minhash

  /** Word w-shingles (duplicates removed — shingle *sets* for Jaccard).
    *
    * Built by zipping the token array with its own shifted slices — w−1
    * whole-array ops per row instead of one slice+join per shingle
    * (measured 8× faster: per-shingle `slice`/`element_at` in an
    * interpreted higher-order lambda is O(n) per access). Tokens past
    * the last full window zip against null, null-propagate through
    * concat, and are filtered — docs shorter than w yield [] for free. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = Tokenize.rawTokens(text)
    val joined = (1 until w).foldLeft(toks) { (acc, o) =>
      zip_with(acc, slice(toks, lit(o + 1), size(toks)), (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(filter(joined, s => s.isNotNull))
  }

  def shinglesSql(textCol: String, w: Int = 3): String = {
    val toks = Tokenize.rawTokensSql(textCol)
    // range(1, len-w+2) yields [] when the doc is shorter than w
    val joined = (0 until w).map(o => s"t[i+$o]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(1, len($toks) - ${w - 2}), i -> $joined))"
      .replace("t[i", s"($toks)[i") // inline token list at each position
  }

  /** 8 MinHash lanes per document from TWO md5 calls per shingle: each
    * 32-hex-char digest is split into 4 fixed-width 8-hex-char lanes
    * (lexicographic min on fixed-width lowercase hex == numeric min on
    * the 32-bit value). Explode + partial-aggregated MIN: every shingle
    * is hashed exactly once per seed (the naive per-lane formulation
    * recomputes md5 k times — 4× the hashing for k=8), and only 8 small
    * strings per doc reach the shuffle thanks to map-side combine. */
  def minhashLanes(docs: DataFrame): DataFrame =
    minhashLanesFromShingles(docs.select(col("doc_id"), shingles(col("text")).as("sh")))

  /** Same, over a pre-built (doc_id, sh) frame so callers can share one
    * materialized shingle pass across signature + verify branches. */
  def minhashLanesFromShingles(base: DataFrame): DataFrame = {
    val sh = base.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        md5(concat(lit("0|"), col("s")).cast("binary")).as("h0"),
        md5(concat(lit("1|"), col("s")).cast("binary")).as("h1"))
    val lanes = (0 until 8).map { i =>
      min(substring(col(if (i < 4) "h0" else "h1"), (i % 4) * 8 + 1, 8)).as(s"mh$i")
    }
    sh.groupBy("doc_id").agg(lanes.head, lanes.tail: _*)
  }

  def minhashLanesSql: String = minhashLanesSql("documents")

  def minhashLanesSql(source: String): String = {
    val lanes = (0 until 8).map { i =>
      s"min(substr(${if (i < 4) "h0" else "h1"}, ${(i % 4) * 8 + 1}, 8)) AS mh$i"
    }.mkString(",\n    ")
    s"""SELECT doc_id,
       |    $lanes
       |  FROM (
       |    SELECT doc_id, md5('0|' || u.s) AS h0, md5('1|' || u.s) AS h1
       |    FROM $source, UNNEST(${shinglesSql("text")}) AS u(s)
       |  ) GROUP BY doc_id""".stripMargin
  }

  /** One-pass shared dedup frame (doc_id, mh0..mh7, shh, n): the 8
    * MinHash lanes, the 64-bit hashed shingle set, and its size, all
    * from a SINGLE tokenize+shingle+explode scan with one doc-keyed
    * aggregate. Memoized per (session, sf-dir) — the common prefix of
    * d2 (lanes), d3/d7/d8 (bands + verify), and d4 (inverted index).
    *
    * The ~20-char shingle STRINGS exist only inside this one build
    * (never pinned — the memo holds lanes + long-hashes, smaller than
    * the corpus). `collect_list` order is nondeterministic, which is
    * safe: every consumer of `shh` is order-insensitive
    * (array_intersect, explode→aggregate). Docs shorter than the
    * shingle width drop out at the explode — no consumer references a
    * doc without shingles (it has no bands and no index entries). */
  private def dedupShared(s: SparkSession, dir: String): DataFrame =
    Materialized(s, s"dedup_shared:${Tables.norm(dir)}") {
      // NO repartition before the explode (round-11 probe): even though
      // each document fans out to ~10² shingle rows paying two md5
      // hashes each, spreading the input measured flat (2.36 → 2.1-2.4 s
      // on the cold payer d2) — the cost sits in the collect_list
      // shuffle + memo checkpoint, not the map-side hashing. See NOTES
      // "do NOT repartition corpus scans at source".
      val ex = Tables.documents(s, dir)
        .select(col("doc_id"), explode(shingles(col("text"))).as("sg"))
        .select(col("doc_id"),
          md5(concat(lit("0|"), col("sg")).cast("binary")).as("h0"),
          md5(concat(lit("1|"), col("sg")).cast("binary")).as("h1"),
          xxhash64(col("sg")).as("sh64"))
      val lanes = (0 until 8).map { i =>
        min(substring(col(if (i < 4) "h0" else "h1"), (i % 4) * 8 + 1, 8)).as(s"mh$i")
      }
      // round 17: the hashed shingle sets are SORTED once per document
      // here — every pair-verification consumer then counts the
      // intersection with the compiled sorted-merge kernel
      // (graft.functions.SortedIntersectCount) instead of
      // array_intersect's per-pair hash set. Consumers are
      // order-insensitive (see above), so only speed changes.
      val aggs = lanes.tail ++ Seq(
        sort_array(collect_list(col("sh64"))).as("shh"), count(lit(1)).as("n"))
      ex.groupBy("doc_id").agg(lanes.head, aggs: _*)
    }

  /** (doc_id, shh, n) view of [[dedupShared]] — the LSH-verify/Jaccard
    * input shape. */
  def shingleBase(s: SparkSession, dir: String): DataFrame =
    dedupShared(s, dir).select("doc_id", "shh", "n")

  /** (doc_id, mh0..mh7) view of [[dedupShared]] — d2's output and the
    * band-key source inside [[cachedLshPairs]]. */
  def cachedLanes(s: SparkSession, dir: String): DataFrame =
    dedupShared(s, dir).select(col("doc_id") +: (0 until 8).map(i => col(s"mh$i")): _*)

  /** LSH-verified pair set memoized per (session, sf-dir) — shared by
    * d3 (its output), d7 (loser removal), and d8 (cluster edges). */
  def cachedLshPairs(s: SparkSession, dir: String, minJaccard: Double = 0.1): DataFrame =
    Materialized(s, s"dedup_lsh_pairs:$minJaccard:${Tables.norm(dir)}") {
      lshNearDupsFromBase(shingleBase(s, dir), minJaccard, Some(cachedLanes(s, dir)))
    }

  /** Candidate near-dup pairs via LSH banding (rowsPerBand hashes
    * concatenated per band key), verified with exact shingle-set Jaccard.
    * Returns pairs with jaccard ≥ minJaccard, deterministic order. */
  def lshNearDups(docs: DataFrame, minJaccard: Double = 0.1): DataFrame =
    lshNearDupsFromBase(
      docs.select(col("doc_id"), shingles(col("text")).as("sh"))
        .select(col("doc_id"), col("sh"),
          sort_array(transform(col("sh"), s => xxhash64(s))).as("shh"),
          size(col("sh")).as("n"))
        .loopCheckpoint(true),
      minJaccard)

  /** Same over a pre-materialized base frame, with an optional
    * pre-computed [[minhashLanesFromShingles]] frame so the signature
    * pass can be shared. With `lanes` given, base needs only
    * (doc_id, shh, n) — the slim [[shingleBase]]; without, it must also
    * carry the string `sh` column for the md5 lane build. The verify
    * carries the 64-bit hashed shingle arrays, not the strings — cheaper
    * to checkpoint, shuffle, and intersect; identical counts (collision
    * odds ~#shingles²/2⁶⁵) so the string-based oracle is unchanged. */
  def lshNearDupsFromBase(base: DataFrame, minJaccard: Double = 0.1,
                          lanes: Option[DataFrame] = None): DataFrame = {
    graft.functions.SortedIntersectCount.register(base.sparkSession)
    // bands feeds both sides of the candidate self-join
    val bands = lanes.getOrElse(minhashLanesFromShingles(base)).select(col("doc_id"),
      posexplode(array((0 until 8).map(i => col(s"mh$i")): _*)).as(Seq("band", "key")))
      .loopCheckpoint(true)
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(base.select(col("doc_id").as("doc_a"), col("shh").as("sh_a"), col("n").as("na")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shh").as("sh_b"), col("n").as("nb")), "doc_b")
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("sh_a"), col("sh_b")).cast("int"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .cast(Out6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("doc_a", "doc_b")
  }

  /** Shared CTE block ending in `verified(doc_a, doc_b, jaccard)` plus
    * `sigs(doc_id, mh0..mh7)` — the SQL twin of the LSH band+verify
    * pipeline, reused by the d3 pair query and the d10 estimator query. */
  private def lshCtesSql(source: String): String = {
    val sh = shinglesSql("text")
    val bandKeys = (0 until 8).map(i => s"mh$i").mkString(", ")
    s"""base AS (
       |  SELECT doc_id, $sh AS sh FROM $source
       |), sigs AS (
       |  ${minhashLanesSql(source).replace("\n", "\n  ")}
       |), bands AS (
       |  SELECT doc_id, u.band, [$bandKeys][u.band + 1] AS key
       |  FROM sigs, UNNEST(range(8)) AS u(band)
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |          (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS DECIMAL(18,6)) AS jaccard
       |  FROM pairs p JOIN base sa ON p.doc_a = sa.doc_id
       |               JOIN base sb ON p.doc_b = sb.doc_id
       |)""".stripMargin
  }

  def lshNearDupsSql(minJaccard: Double = 0.1, source: String = "documents"): String =
    s"""WITH ${lshCtesSql(source)}
       |SELECT doc_a, doc_b, jaccard FROM verified
       |WHERE jaccard >= $minJaccard ORDER BY doc_a, doc_b""".stripMargin

  /** Top-k most-similar pairs by shingle Jaccard, via the inverted
    * shared-shingle join (index join, not cross join — the n-gram Jaccard
    * path when full exactness over the retained shingles is wanted).
    *
    * Shingles with document frequency > maxShingleDf are dropped from the
    * index AND from the set sizes before pairing: a stop-phrase shingle
    * contributes ~df²/2 rows to the pair aggregate (the one quadratic term
    * in this plan — at corpus scale a single ubiquitous 3-gram would emit
    * 10¹²+ pairs) and carries no similarity signal. Jaccard is therefore
    * the exact Jaccard of the CAPPED shingle sets — numerator and
    * denominator use the same filtered universe, and the oracle applies
    * the identical cap. */
  def ngramJaccardTop(docs: DataFrame, topK: Int = 20, maxShingleDf: Int = 100): DataFrame =
    ngramJaccardTopFromBase(
      docs.select(col("doc_id"), shingles(col("text")).as("sh"))
        .select(col("doc_id"), transform(col("sh"), x => xxhash64(x)).as("shh"))
        .loopCheckpoint(true),
      topK, maxShingleDf)

  /** Same over a pre-materialized [[shingleBase]]-shaped frame (only
    * `shh` is read). The inverted index joins on the 64-bit shingle
    * hash, not the ~20-char string: same pair counts (collision odds
    * ~#shingles²/2⁶⁵ ≈ 0), much narrower shuffle. Spark-side only — the
    * oracle's output is unchanged. */
  def ngramJaccardTopFromBase(base: DataFrame, topK: Int = 20,
                              maxShingleDf: Int = 100): DataFrame =
    sharedShingleCounts(base, maxShingleDf)
      .select(col("doc_a"), col("doc_b"),
        round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 6)
          .cast(Out6).as("jaccard"))
      .orderBy(desc("jaccard"), asc("doc_a"), asc("doc_b"))
      .limit(topK)

  /** Shared-shingle pair counts over the df-capped inverted index —
    * (doc_a, doc_b, shared, na, nb) with doc_a < doc_b — the common
    * input of the d4 Jaccard and d19 containment scorers. */
  private[dedup] def sharedShingleCounts(base: DataFrame,
                                         maxShingleDf: Int): DataFrame = {
    val inv0 = base.select(col("doc_id"), explode(col("shh")).as("s"))
    // the hot (df > cap) set is tiny by construction → broadcast anti-join
    val hot = inv0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("s")
    val inv = inv0.join(broadcast(hot), Seq("s"), "left_anti")
      .loopCheckpoint(true)
    // per-doc size over the capped universe (shingles are distinct per doc)
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // aggregate on the slim (doc_a, doc_b) key only; attach set sizes
    // after — keeps the 100M-row pair aggregate as narrow as possible
    val shared = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
  }

  /** d19: directional containment top-k — containment(src→dst) =
    * |shingles(src) ∩ shingles(dst)| / |shingles(src)| over the same
    * df-capped shingle universe as d4. Jaccard misses subset
    * duplication: a short document quoted whole inside a long one has
    * low Jaccard (the union is large) but containment ≈ 1 from the
    * short side — the signal a dedup pipeline needs to drop embedded
    * copies and boilerplate inclusions. Each unordered pair from the
    * inverted-index join emits both directions (explode of a 2-struct
    * array — no second pair pass), then one TakeOrdered.
    * Scale: identical to d4 — the df cap bounds the one quadratic term,
    * everything else is linear. */
  /** [[containmentTopFromBase]] over raw docs (test/API convenience —
    * the registry serves the memoized [[shingleBase]]). */
  def containmentTop(docs: DataFrame, topK: Int = 20,
                     maxShingleDf: Int = 100): DataFrame =
    containmentTopFromBase(
      docs.select(col("doc_id"), shingles(col("text")).as("sh"))
        .select(col("doc_id"), transform(col("sh"), x => xxhash64(x)).as("shh"))
        .loopCheckpoint(true),
      topK, maxShingleDf)

  def containmentTopFromBase(base: DataFrame, topK: Int = 20,
                             maxShingleDf: Int = 100): DataFrame =
    sharedShingleCounts(base, maxShingleDf)
      .select(explode(array(
        struct(col("doc_a").as("src_doc"), col("doc_b").as("dst_doc"),
          round(col("shared").cast("double") / col("na"), 6)
            .cast(Out6).as("containment")),
        struct(col("doc_b").as("src_doc"), col("doc_a").as("dst_doc"),
          round(col("shared").cast("double") / col("nb"), 6)
            .cast(Out6).as("containment")))).as("e"))
      .select(col("e.src_doc").as("src_doc"), col("e.dst_doc").as("dst_doc"),
        col("e.containment").as("containment"))
      .orderBy(desc("containment"), asc("src_doc"), asc("dst_doc"))
      .limit(topK)

  def containmentTopSql(topK: Int = 20, maxShingleDf: Int = 100): String = {
    val sh = shinglesSql("text")
    s"""WITH base AS (
       |  SELECT doc_id, $sh AS sh FROM documents
       |), inv0 AS (
       |  SELECT doc_id, u.s FROM base, UNNEST(sh) AS u(s)
       |), hot AS (
       |  SELECT s FROM inv0 GROUP BY s HAVING count(*) > $maxShingleDf
       |), inv AS (
       |  SELECT doc_id, s FROM inv0 WHERE s NOT IN (SELECT s FROM hot)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id
       |), shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT doc_a AS src_doc, doc_b AS dst_doc,
       |         CAST(round(CAST(shared AS DOUBLE) / sa.n, 6) AS DECIMAL(18,6)) AS containment
       |  FROM shared JOIN sizes sa ON doc_a = sa.doc_id
       |  UNION ALL
       |  SELECT doc_b, doc_a,
       |         CAST(round(CAST(shared AS DOUBLE) / sb.n, 6) AS DECIMAL(18,6))
       |  FROM shared JOIN sizes sb ON doc_b = sb.doc_id
       |)
       |SELECT src_doc, dst_doc, containment FROM scored
       |ORDER BY containment DESC, src_doc ASC, dst_doc ASC LIMIT $topK""".stripMargin
  }

  def ngramJaccardTopSql(topK: Int = 20, maxShingleDf: Int = 100): String = {
    val sh = shinglesSql("text")
    s"""WITH base AS (
       |  SELECT doc_id, $sh AS sh FROM documents
       |), inv0 AS (
       |  SELECT doc_id, u.s FROM base, UNNEST(sh) AS u(s)
       |), hot AS (
       |  SELECT s FROM inv0 GROUP BY s HAVING count(*) > $maxShingleDf
       |), inv AS (
       |  SELECT doc_id, s FROM inv0 WHERE s NOT IN (SELECT s FROM hot)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id
       |), shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |       CAST(round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS DECIMAL(18,6)) AS jaccard
       |FROM shared JOIN sizes sa ON doc_a = sa.doc_id
       |            JOIN sizes sb ON doc_b = sb.doc_id
       |ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT $topK""".stripMargin
  }

  /** d20: dedup threshold curve — pair count and would-drop document
    * count at each candidate Jaccard threshold, the tuning surface for
    * choosing the near-dup cutoff before a full-corpus dedup run (too
    * low ablates content, too high leaves boilerplate; this query shows
    * the knee). Dropped docs follow d7's keep-lower-id rule (distinct
    * doc_b). Reads ONLY the session's LSH pair memo — a 5-threshold
    * broadcast nested-loop over the pair list (pairs ≪ corpus by
    * construction), zero new shingle/LSH work at any scale. Thresholds
    * below the memo's minJaccard would undercount and are rejected. */
  def thresholdCurve(pairs: DataFrame,
                     thresholds: Seq[String] =
                       Seq("0.1", "0.3", "0.5", "0.7", "0.9")): DataFrame = {
    require(thresholds.forall(BigDecimal(_) >= 0.1),
      "thresholds below the pair memo's minJaccard=0.1 would undercount")
    val spark = pairs.sparkSession
    import spark.implicits._
    val thr = broadcast(thresholds.toDF("ts")
      .select(col("ts").cast(Out6).as("t")))
    thr.join(pairs, col("jaccard") >= col("t"), "left_outer")
      .groupBy("t")
      .agg(count(col("doc_a")).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_dropped"))
      .orderBy("t")
  }

  def thresholdCurveSql(thresholds: Seq[String] =
                          Seq("0.1", "0.3", "0.5", "0.7", "0.9")): String =
    s"""WITH ${lshCtesSql("documents")},
       |thr AS (SELECT CAST(u.ts AS DECIMAL(18,6)) AS t
       |        FROM UNNEST([${thresholds.map(t => s"'$t'").mkString(", ")}]) AS u(ts)),
       |f AS (SELECT thr.t, v.doc_a, v.doc_b
       |      FROM thr LEFT JOIN verified v ON v.jaccard >= thr.t)
       |SELECT t, COUNT(doc_a) AS n_pairs, COUNT(DISTINCT doc_b) AS n_dropped
       |FROM f GROUP BY t ORDER BY t""".stripMargin

  // ------------------------------------------------------------- simhash

  /** 32-bit SimHash per document as a BIGINT: bit j is the sign of
    * Σ_terms tf·(hexdigit_j(md5(term)) ≥ 8 ? +1 : −1). Explode + 32
    * partially-aggregated sums — one shuffle on doc_id, integer-exact.
    * The per-term hash runs through the single-digest
    * [[graft.functions.Md5NibbleMsbs]] kernel (round 6 — the Column
    * formulation did 32 substring + set-membership string probes per
    * term-row; equivalence spec-pinned). The oracle keeps the
    * per-hex-digit form ([[simhashSql]]) — md5 is the shared
    * primitive, so the bits agree by construction. */
  def simhash(docs: DataFrame): DataFrame = {
    graft.functions.Md5NibbleMsbs.register(docs.sparkSession)
    val terms = docs
      .select(col("doc_id"), explode(Tokenize.rawTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("m", graft.functions.Md5NibbleMsbs(col("term")))
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("m"), j).bitwiseAND(lit(1L)) === 1L,
        col("tf")).otherwise(-col("tf"))).as(s"s$j")
    }
    val sums = terms.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until 32).map(j =>
        when(col(s"s$j") >= 0, lit(1L) * lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), value.as("simhash"))
  }

  def simhashSql: String = {
    val bitSums = (0 until 32).map(j =>
      s"SUM(CASE WHEN substr(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN tf ELSE -tf END) AS s$j")
      .mkString(",\n    ")
    val value = (0 until 32).map(j => s"CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH terms AS (
       |  SELECT doc_id, u.term, count(*) AS tf
       |  FROM documents, UNNEST(${Tokenize.rawTokensSql("text")}) AS u(term)
       |  GROUP BY doc_id, u.term
       |), hashed AS (
       |  SELECT doc_id, tf, md5(term) AS h FROM terms
       |), sums AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM hashed GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($value AS BIGINT) AS simhash FROM sums ORDER BY doc_id""".stripMargin
  }

  /** SimHash near-dup pairs with hamming ≤ maxDist, blocked on 4×8-bit
    * sub-keys (any pair with hamming ≤ 3 shares ≥1 exact block —
    * pigeonhole), so candidates come from an equi-join, never a cross
    * join. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame =
    simhashPairsFromSig(simhash(docs), maxDist)

  /** Same over a pre-computed [[simhash]] frame (doc_id, simhash). */
  def simhashPairsFromSig(sig: DataFrame, maxDist: Int = 3): DataFrame = {
    // collapse to DISTINCT simhash values first (similar corpora share
    // values): the blocked self-join runs over values, the hamming filter
    // sits in the join condition, and doc pairs are expanded only for
    // surviving value pairs. Each doc pair maps to exactly one value pair
    // (or one same-value group), so no pair-level dedup is needed at all.
    val groups = sig
      .groupBy("simhash").agg(collect_list("doc_id").as("ids"))
      .loopCheckpoint(true)
    val vblocks = groups.select(col("simhash"), col("ids"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L))): _*)).as(Seq("blk", "key")))
    val vpairs = vblocks.as("a").join(vblocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.simhash") < col("b.simhash") &&
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxDist)
      .select(col("a.simhash").as("v1"), col("b.simhash").as("v2"),
        col("a.ids").as("ids1"), col("b.ids").as("ids2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("v1", "v2")
    val cross = vpairs
      .select(explode(col("ids1")).as("ida"), col("ids2"), col("hamming"))
      .select(col("ida"), explode(col("ids2")).as("idb"), col("hamming"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    val within = groups.filter(size(col("ids")) > 1) // identical simhash → hamming 0
      .select(explode(col("ids")).as("ida"), col("ids"))
      .select(col("ida"), explode(col("ids")).as("idb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"), lit(0).as("hamming"))
    // no output sort: the pair list is the one corpus-scale output in the
    // dedup family (411k rows at sf0.1, O(dup mass) at 100 TB) and the
    // correctness comparator sorts rows itself — a global result sort
    // here would be a pure extra exchange at every scale
    cross.union(within)
  }

  def simhashPairsSql(maxDist: Int = 3): String =
    s"""WITH sh AS (${simhashSql.replace("ORDER BY doc_id", "")}),
       |blocks AS (
       |  SELECT doc_id, simhash, u.blk,
       |         (simhash // (1 << (u.blk * 8))) % 256 AS key
       |  FROM sh, UNNEST(range(4)) AS u(blk)
       |)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM blocks a JOIN blocks b
       |  ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Near-dup CLUSTERS: LSH-verified pairs form an undirected graph;
    * [[graft.graph.Graph.connectedComponents]] labels each doc with the
    * min doc_id of its duplicate cluster (transitively: a~b and b~c put
    * a,b,c in one cluster even if a~c was never a candidate pair). The
    * keep-one-per-cluster rule is then `doc_id == cluster`. Composes two
    * engine modules — the pair join feeds the iterative graph fixpoint. */
  def nearDupClusters(docs: DataFrame, minJaccard: Double = 0.1): DataFrame =
    nearDupClustersFromPairs(lshNearDups(docs, minJaccard))

  /** Same over a pre-computed LSH pair frame (doc_a, doc_b, jaccard). */
  def nearDupClustersFromPairs(pairs: DataFrame): DataFrame =
    graft.graph.Graph.connectedComponents(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("id").as("doc_id"), col("component").as("cluster"))
      .orderBy("doc_id")

  def nearDupClustersSql(minJaccard: Double = 0.1): String =
    s"""WITH RECURSIVE pairs AS (
       |  ${lshNearDupsSql(minJaccard).replace("\n", "\n  ")}
       |), und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), v AS (SELECT src AS id FROM und UNION SELECT dst FROM und),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id)
       |SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin

  /** d23: leakage-free train/val/test split — the contamination-safe
    * split rule a training pipeline must use: the split is assigned by
    * hashing the near-dup CLUSTER id (transitive closure over
    * LSH-verified pairs, [[nearDupClusters]]), not the doc id, so two
    * near-duplicate documents can NEVER straddle splits (train→test
    * leakage). Docs in no cluster hash their own id (singleton cluster).
    *
    * Output per split: doc count, cluster count, and the leakage AUDIT —
    * the number of verified near-dup pairs with exactly one endpoint in
    * the split. Zero by construction on the engine side; the oracle
    * recomputes it from its own independent cluster build, so a
    * cross-engine disagreement on any cluster member surfaces as a
    * nonzero audit or a count diff, not silence.
    *
    * Scale shape: one doc-keyed left join to attach clusters (the
    * cluster frame is O(dup docs)), one 256-bucket hash per doc, two
    * key-partitioned joins of the pair list (O(dup mass)) against the
    * slim (doc_id, split) assignment — no corpus-wide wide rows, no
    * driver action. The split hash is the x6 [[graft.text.TextStats
    * .hashBucket]] md5 rule: deterministic across engines, runs, and
    * partitionings. */
  def leakageSplit(docs: DataFrame, clusters: DataFrame,
                   pairs: DataFrame): DataFrame = {
    val assigned = docs.select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("split", graft.text.TextStats.assignSplit(col("cluster")))
      .loopCheckpoint(true) // feeds the stats AND both audit probes
    val stats = assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster").as("n_clusters"))
    val leaks = pairs
      .join(assigned.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(assigned.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(explode(array(col("split_a"), col("split_b"))).as("split"))
      .groupBy("split").agg(count(lit(1)).as("leaked"))
    stats.join(leaks, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"),
        coalesce(col("leaked"), lit(0L)).as("leaked_pairs"))
      .orderBy("split")
  }

  def leakageSplitSql(minJaccard: Double = 0.1): String = {
    val split = graft.text.TextStats.assignSplitSqlExpr("cluster")
    s"""WITH RECURSIVE pairs AS (
       |  ${lshNearDupsSql(minJaccard).replace("\n", "\n  ")}
       |), und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), v AS (SELECT src AS id FROM und UNION SELECT dst FROM und),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id),
       |clusters AS (SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id),
       |sp AS (
       |  SELECT doc_id, cluster, $split AS split FROM (
       |    SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
       |    FROM documents d LEFT JOIN clusters c USING (doc_id)) z
       |), stats AS (
       |  SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT cluster) AS n_clusters
       |  FROM sp GROUP BY split
       |), leak_ends AS (
       |  SELECT a.split AS split_a, b.split AS split_b
       |  FROM pairs p JOIN sp a ON p.doc_a = a.doc_id JOIN sp b ON p.doc_b = b.doc_id
       |  WHERE a.split != b.split
       |), leaks AS (
       |  SELECT split, COUNT(*) AS leaked FROM (
       |    SELECT split_a AS split FROM leak_ends
       |    UNION ALL SELECT split_b FROM leak_ends)
       |  GROUP BY split
       |)
       |SELECT s.split, s.n_docs, s.n_clusters,
       |  CAST(COALESCE(l.leaked, 0) AS BIGINT) AS leaked_pairs
       |FROM stats s LEFT JOIN leaks l USING (split) ORDER BY s.split""".stripMargin
  }

  // -------------------------------------------------- curation pipeline

  /** End-to-end corpus curation (the flagship training-data shape):
    * quality gate → exact dedup (keep min doc_id per text hash) →
    * near-dup removal (drop the higher id of every LSH-verified pair;
    * the simple deterministic rule — a union-find keep-one-per-cluster
    * variant is a straightforward extension). Returns surviving doc ids.
    *
    * Each stage runs on the previous stage's survivors, so the expensive
    * near-dup candidate join only sees quality-passing, exact-deduped
    * docs — the order a 100 TB pipeline must use. */
  def curationPipeline(docs: DataFrame, minChars: Int = 150,
                       minJaccard: Double = 0.1): DataFrame = {
    val deduped = qualityDedupStage(docs, minChars)
    val nearDupLosers = lshNearDups(deduped, minJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    deduped.select("doc_id")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Quality gate + exact dedup — the shared first two stages. */
  private def qualityDedupStage(docs: DataFrame, minChars: Int): DataFrame = {
    val quality = docs.filter(length(col("text")) >= minChars)
    val keepers = quality
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    quality.join(keepers, "doc_id")
  }

  /** [[curationPipeline]] served from the memoized FULL-corpus pair set:
    * per-doc MinHash signatures (and so band keys) do not depend on which
    * other docs are in the corpus, so the LSH candidates of the deduped
    * survivor set are exactly the full-corpus candidates with both
    * endpoints surviving, and per-pair Jaccard verification is pairwise —
    * `lshNearDups(survivors) ≡ lshNearDups(corpus) ∩ survivors²`. The
    * restriction is two broadcast-size semi-joins instead of a second
    * shingle+band+verify pass. The oracle still recomputes the survivor
    * pass from scratch in SQL, so the equivalence is hash-checked, not
    * assumed. */
  def curationPipelineFromPairs(docs: DataFrame, pairs: DataFrame,
                                minChars: Int = 150): DataFrame = {
    val survivors = qualityDedupStage(docs, minChars)
      .select("doc_id").loopCheckpoint(true)
    val nearDupLosers = pairs
      .join(survivors.select(col("doc_id").as("doc_a")), "doc_a")
      .join(survivors.select(col("doc_id").as("doc_b")), "doc_b")
      .select(col("doc_b").as("doc_id")).distinct()
    survivors
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  def curationPipelineSql(minChars: Int = 150, minJaccard: Double = 0.1): String =
    s"""WITH quality AS (
       |  SELECT * FROM documents WHERE length(text) >= $minChars
       |), keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
       |), deduped AS (
       |  SELECT q.* FROM quality q JOIN keepers USING (doc_id)
       |), pairs AS (
       |  ${lshNearDupsSql(minJaccard, "deduped").replace("\n", "\n  ")}
       |)
       |SELECT doc_id FROM deduped
       |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- decontamination

  /** Train→eval n-gram contamination check (the decontamination pass a
    * pretraining pipeline must run before trusting its eval numbers): an
    * eval document is contaminated if it shares any word w-shingle with
    * any training document. The splits come from the engine's own
    * deterministic md5 hash-split ([[graft.text.TextStats.assignSplit]];
    * 'train' vs 'test' buckets), so the check composes two engine
    * operators.
    *
    * Shape: one shingle pass over the corpus; the train side collapses
    * to a DISTINCT 64-bit shingle-hash vocabulary (the shuffle carries
    * 8-byte hashes, never text); the eval side is an exploded semi-join
    * against that vocabulary plus one doc-keyed count — no quadratic
    * term anywhere, and the semi-join is exactly the shape a
    * bloom-filter pre-pass accelerates at corpus scale. Eval docs
    * shorter than the shingle width surface n_shingles = 0 and are never
    * "contaminated". The oracle recomputes overlap on the shingle
    * STRINGS; Spark joins xxhash64 values (collision odds
    * ~#shingles²/2⁶⁵ — the d3/d4 argument). */
  def decontaminate(docs: DataFrame, w: Int = 3): DataFrame =
    decontaminateFromBase(docs,
      docs.select(col("doc_id"),
        transform(shingles(col("text"), w), s => xxhash64(s)).as("shh")))

  /** Same over a pre-built (doc_id, shh) hashed-shingle frame — the
    * registry serves it from the memoized [[dedupShared]] pass, so d9
    * shares one tokenize+shingle scan with d2/d3/d4/d7/d8. Docs absent
    * from `base` (shorter than the shingle width — they drop out of the
    * explode-built memo) re-enter with an empty shingle set via the
    * outer join, keeping the zero-shingle eval rows the oracle emits. */
  def decontaminateFromBase(docs: DataFrame, base: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"),
        graft.text.TextStats.assignSplit(col("doc_id")).as("split"))
      .join(base.select(col("doc_id"), col("shh")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("split"),
        coalesce(col("shh"), array().cast("array<bigint>")).as("shh"))
      .loopCheckpoint(true) // feeds the vocab branch AND the eval branch
    val trainVocab = hashed.filter(col("split") === "train")
      .select(explode(col("shh")).as("sh")).distinct()
    val evalDocs = hashed.filter(col("split") === "test")
      .select(col("doc_id"), col("shh"))
    val overlap = evalDocs.select(col("doc_id"), explode(col("shh")).as("sh"))
      .join(trainVocab, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    evalDocs.select(col("doc_id"), size(col("shh")).cast("long").as("n_shingles"))
      .join(overlap, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(col("n_overlap").cast("double") / col("n_shingles"), 6))
          .cast(Out6))
      .withColumn("contaminated", (col("n_overlap") > 0).cast("long"))
      .orderBy("doc_id")
  }

  def decontaminateSql(w: Int = 3): String = {
    val sh = shinglesSql("text", w)
    val split = graft.text.TextStats.assignSplitSqlExpr("doc_id")
    s"""WITH b AS (
       |  SELECT doc_id, $split AS split, $sh AS sh FROM documents
       |), vocab AS (
       |  SELECT DISTINCT u.s FROM b, UNNEST(sh) AS u(s) WHERE split = 'train'
       |), ev AS (
       |  SELECT doc_id, sh FROM b WHERE split = 'test'
       |), ov AS (
       |  SELECT e.doc_id, count(*) AS n_overlap
       |  FROM (SELECT doc_id, u.s FROM ev, UNNEST(sh) AS u(s)) e
       |  JOIN vocab v ON e.s = v.s
       |  GROUP BY e.doc_id
       |)
       |SELECT ev.doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
       |  COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  CAST(CASE WHEN len(sh) = 0 THEN 0.0
       |    ELSE round(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / len(sh), 6) END AS DECIMAL(18,6)) AS overlap_frac,
       |  CAST(CASE WHEN COALESCE(ov.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
       |FROM ev LEFT JOIN ov USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ registry

  /** Simhash signatures memoized per (session, sf-dir) — d5's output and
    * d6's pair input. */
  def cachedSimhash(s: SparkSession, dir: String): DataFrame =
    Materialized(s, s"dedup_simhash:${Tables.norm(dir)}") {
      simhash(Tables.documents(s, dir))
    }

  /** d10: MinHash-ESTIMATED Jaccard next to the exact value for every
    * LSH-verified near-dup pair — estimate = fraction of the 8 lanes
    * agreeing (the unbiased MinHash estimator). At corpus scale this is
    * the triage signal: the estimate costs only the already-shuffled
    * 8-lane signatures, so a pipeline can rank/threshold candidates
    * BEFORE paying the exact shingle-set intersection, and this query is
    * the estimator-vs-truth calibration surface. Lanes and verified
    * pairs both come from the session memo — no extra scans. */
  def minhashJaccardEstimate(s: SparkSession, dir: String): DataFrame = {
    val la = cachedLanes(s, dir).select(
      col("doc_id").as("doc_a") +: (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
    val lb = cachedLanes(s, dir).select(
      col("doc_id").as("doc_b") +: (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
    val laneMatches = (0 until 8)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    cachedLshPairs(s, dir).join(la, "doc_a").join(lb, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(laneMatches.cast("double") / 8, 6).cast(Out6).as("jaccard_est"))
      .orderBy("doc_a", "doc_b")
  }

  def minhashJaccardEstimateSql(minJaccard: Double = 0.1): String =
    s"""WITH ${lshCtesSql("documents")}
       |SELECT v.doc_a, v.doc_b, v.jaccard,
       |  CAST(round((${(0 until 8).map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0, 6) AS DECIMAL(18,6)) AS jaccard_est
       |FROM verified v JOIN sigs sa ON v.doc_a = sa.doc_id
       |                JOIN sigs sb ON v.doc_b = sb.doc_id
       |WHERE v.jaccard >= $minJaccard ORDER BY v.doc_a, v.doc_b""".stripMargin

  /** Duplicate-cluster labels memoized per (session, sf-dir) — d8's
    * output and d11's input (the CC fixpoint runs once per session). */
  def cachedClusters(s: SparkSession, dir: String): DataFrame =
    Materialized(s, s"dedup_clusters:${Tables.norm(dir)}")(
      nearDupClustersFromPairs(cachedLshPairs(s, dir)))

  /** d11: canonical document per duplicate cluster — the keep-best rule
    * a curation pipeline applies after clustering (versus d7's simpler
    * drop-the-higher-id rule): the longest text wins, ties to the
    * smallest doc_id. Output (cluster, canon_doc, n_members).
    *
    * Shape: the cluster labeling (pair graph ≪ corpus) joins each
    * member's length, then ONE shuffle on cluster with a per-cluster
    * rank window — near-dup clusters are small by construction, so the
    * window sort is bounded per group and no global sort exists at any
    * corpus size. */
  def canonicalDocs(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLen = Window.partitionBy("cluster").orderBy(desc("n_chars"), asc("doc_id"))
    clusters
      .join(docs.select(col("doc_id"), length(col("text")).as("n_chars")), "doc_id")
      .select(col("cluster"), col("doc_id"),
        row_number().over(byLen).as("rk"),
        count(lit(1)).over(Window.partitionBy("cluster")).as("n_members"))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("canon_doc"), col("n_members"))
      .orderBy("cluster")
  }

  def canonicalDocsSql(minJaccard: Double = 0.1): String =
    s"""WITH clusters AS (
       |  ${nearDupClustersSql(minJaccard).replace("\n", "\n  ")}
       |), scored AS (
       |  SELECT c.cluster, c.doc_id, length(d.text) AS n_chars
       |  FROM clusters c JOIN documents d USING (doc_id)
       |), ranked AS (
       |  SELECT cluster, doc_id,
       |    row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id ASC) AS rk,
       |    count(*) OVER (PARTITION BY cluster) AS n_members
       |  FROM scored)
       |SELECT cluster, doc_id AS canon_doc, n_members
       |FROM ranked WHERE rk = 1 ORDER BY cluster""".stripMargin

  // ------------------------------------------------------ repeated spans

  /** d12: repeated-span contamination per document — the fraction of a
    * document's 3-token spans (every position, duplicates kept) that
    * also occur in at least one OTHER document. This is the
    * chunk-granular stand-in for exact-substring dedup (suffix-array
    * repeated-span removal à la "Deduplicating Training Data Makes
    * Language Models Better"): a high shared fraction marks boilerplate
    * or templated text that survives document-level dedup. Distinct
    * from d9 (train/eval decontamination semi-join): this is
    * intra-corpus, per-doc, with multiplicity.
    *
    * The 100 TB shape: spans leave the scan as md5 hashes (16 bytes
    * shuffle, never text); the document-frequency table is one hash
    * aggregate over distinct (hash, doc) pairs; the per-doc stat is one
    * equi-join on the hash plus one aggregate — both AQE-skew-splittable.
    * The (doc_id, h) frame is localCheckpoint'd because the df branch
    * and the per-doc branch both consume it (NOTES multi-consumer rule).
    *
    * Exactness: counts are integers; the one ratio is a clean double
    * division rounded to 6 dp and emitted DECIMAL(18,6) on both sides. */
  /** (doc_id, h): every w-token span instance as an md5 hash — the
    * shared scan for d12/d13 (checkpointed: every consumer reads it at
    * least twice, the NOTES multi-consumer rule). */
  def spanHashes(docs: DataFrame, w: Int = 3): DataFrame = {
    val toks = Tokenize.rawTokens(col("text"))
    val joined = (1 until w).foldLeft(toks) { (acc, o) =>
      zip_with(acc, slice(toks, lit(o + 1), size(toks)), (a, b) => concat(a, lit(" "), b))
    }
    docs.select(col("doc_id"), explode(filter(joined, s => s.isNotNull)).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
      .loopCheckpoint(true)
  }

  /** Span-hash frame memoized per (session, sf-dir) — d12 and d13 walk
    * the same spans, so the tokenize+hash scan runs once per session
    * (the shingleBase pattern). */
  private def cachedSpans(s: SparkSession, dir: String): DataFrame =
    Materialized(s, s"span_hashes:${Tables.norm(dir)}")(
      spanHashes(Tables.documents(s, dir)))

  def repeatedSpans(docs: DataFrame, w: Int = 3): DataFrame =
    repeatedSpansFromSpans(spanHashes(docs, w))

  def repeatedSpansFromSpans(spans: DataFrame): DataFrame = {
    val df = spans.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("ndocs"))
    spans.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).cast("long").as("n_shared"))
      .select(col("doc_id"), col("n_spans"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_spans"), 6)
          .cast(Out6).as("shared_frac"),
        (col("n_shared") * 2 <= col("n_spans")).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  /** Cross-source contamination matrix: for every pair of sources, how
    * many distinct w-token spans they share, with the span-set Jaccard —
    * the table that tells a curation pipeline which domains are
    * republishing each other (and whether a train/eval source split is
    * leaky) BEFORE paying per-document dedup.
    *
    * Scale shape: the span table collapses to DISTINCT (source, span)
    * first, so each span hash contributes at most |sources|² join rows
    * regardless of how many documents contain it — the self-join is
    * bounded by the (small) source count, never corpus size; shuffles
    * carry 16-byte hashes. Shares the memoized span scan with d12/d13. */
  def crossSourceContamination(docs: DataFrame, spans: DataFrame): DataFrame = {
    val sh = spans.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("h")).distinct()
      .loopCheckpoint(true) // consumed by counts AND both join sides
    val counts = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(counts.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(counts.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")), 6)
          .cast(Out6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  def crossSourceContaminationSql(w: Int = 3): String = {
    val toks = Tokenize.rawTokensSql("text")
    val span = (0 until w).map(o => s"t[CAST(i AS INT)+$o]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toks AS t FROM documents
       |), ch AS (
       |  SELECT doc_id, md5($span) AS h
       |  FROM toks, UNNEST(range(1, len(t) - ${w - 2})) AS u(i)
       |), sh AS (
       |  SELECT DISTINCT d.source, ch.h FROM ch JOIN documents d USING (doc_id)
       |), cnt AS (
       |  SELECT source, count(*) AS n FROM sh GROUP BY source
       |), pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |  GROUP BY a.source, b.source
       |)
       |SELECT source_a, source_b, n_shared,
       |  CAST(round(CAST(n_shared AS DOUBLE) / (ca.n + cb.n - n_shared), 6) AS DECIMAL(18,6)) AS jaccard
       |FROM pairs JOIN cnt ca ON ca.source = source_a JOIN cnt cb ON cb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** LSH s-curve tuning table: P(candidate | jaccard=s) = 1 − (1 − sʳ)ᵇ
    * for the banding configurations an 8-lane MinHash supports — the
    * design tool that picks (bands, rows) BEFORE paying a corpus pass
    * (d10 then calibrates the chosen config against truth). Powers are
    * explicit binary-squaring multiply chains, NOT pow(): plain IEEE
    * multiplication is bit-identical across engines where libm pow need
    * not be; the oracle mirrors the exact parenthesization. */
  def lshTuning(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Column
    def powChain(x: Column, e: Int): Column = e match {
      case 1 => x
      case 2 => x * x
      case 4 => (x * x) * (x * x)
      case 8 => ((x * x) * (x * x)) * ((x * x) * (x * x))
    }
    val frames = Seq((8, 1), (4, 2), (2, 4)).map { case (b, r) =>
      val s = col("id").cast("double") / lit(20.0)
      spark.range(1, 20)
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          round(s, 2).cast(org.apache.spark.sql.types.DecimalType(4, 2)).as("s"),
          round(lit(1.0) - powChain(lit(1.0) - powChain(s, r), b), 6)
            .cast(Out6).as("p_candidate"))
    }
    frames.reduce(_ union _).orderBy("bands", "s")
  }

  def lshTuningSql: String = {
    def powChain(x: String, e: Int): String = e match {
      case 1 => x
      case 2 => s"($x * $x)"
      case 4 => s"(($x * $x) * ($x * $x))"
      case 8 => s"((($x * $x) * ($x * $x)) * (($x * $x) * ($x * $x)))"
    }
    val rows = Seq((8, 1), (4, 2), (2, 4)).map { case (b, r) =>
      val s = "(CAST(i AS DOUBLE) / CAST(20 AS DOUBLE))"
      val inner = s"(1.0 - ${powChain(s, r)})"
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |  CAST(round($s, 2) AS DECIMAL(4,2)) AS s,
         |  CAST(round(1.0 - ${powChain(inner, b)}, 6) AS DECIMAL(18,6)) AS p_candidate
         |FROM UNNEST(range(1, 20)) AS t(i)""".stripMargin
    }
    rows.mkString("", "\nUNION ALL\n", "\nORDER BY bands, s")
  }

  def repeatedSpansSql(w: Int = 3): String = {
    val toks = Tokenize.rawTokensSql("text")
    val span = (0 until w).map(o => s"t[CAST(i AS INT)+$o]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toks AS t FROM documents
       |), ch AS (
       |  SELECT doc_id, md5($span) AS h
       |  FROM toks, UNNEST(range(1, len(t) - ${w - 2})) AS u(i)
       |), df AS (
       |  SELECT h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY h
       |), per AS (
       |  SELECT ch.doc_id, count(*) AS n_spans,
       |    CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |  FROM ch JOIN df USING (h) GROUP BY ch.doc_id
       |)
       |SELECT doc_id, n_spans, n_shared,
       |  CAST(round(n_shared * 1.0 / n_spans, 6) AS DECIMAL(18,6)) AS shared_frac,
       |  CAST(CASE WHEN n_shared * 2 <= n_spans THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM per ORDER BY doc_id""".stripMargin
  }

  /** d13: span novelty per document — the fraction of a document's span
    * instances whose FIRST corpus occurrence (min doc_id over the whole
    * corpus) is this document. Scanning the corpus in doc_id order, this
    * is each document's marginal contribution of never-seen-before
    * spans — the redundancy-growth curve a curation pipeline watches to
    * decide when additional data stops adding content (novelty falls as
    * the corpus saturates). Complements d12 (which asks "is this span
    * shared at all"); d13 asks "who said it first".
    *
    * Same 100 TB shape as d12 over the shared memoized span-hash frame:
    * one min-aggregate on the hash builds the first-occurrence table,
    * one equi-join + per-doc aggregate scores it. */
  def spanNoveltyFromSpans(spans: DataFrame): DataFrame = {
    val first = spans.groupBy("h").agg(min("doc_id").as("first_doc"))
    spans.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .cast("long").as("n_novel"))
      .select(col("doc_id"), col("n_spans"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_spans"), 6)
          .cast(Out6).as("novel_frac"))
      .orderBy("doc_id")
  }

  def spanNoveltySql(w: Int = 3): String = {
    val toks = Tokenize.rawTokensSql("text")
    val span = (0 until w).map(o => s"t[CAST(i AS INT)+$o]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toks AS t FROM documents
       |), ch AS (
       |  SELECT doc_id, md5($span) AS h
       |  FROM toks, UNNEST(range(1, len(t) - ${w - 2})) AS u(i)
       |), first AS (
       |  SELECT h, min(doc_id) AS first_doc FROM ch GROUP BY h
       |), per AS (
       |  SELECT ch.doc_id, count(*) AS n_spans,
       |    CAST(SUM(CASE WHEN first_doc = ch.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM ch JOIN first USING (h) GROUP BY ch.doc_id
       |)
       |SELECT doc_id, n_spans, n_novel,
       |  CAST(round(n_novel * 1.0 / n_spans, 6) AS DECIMAL(18,6)) AS novel_frac
       |FROM per ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- prefix-filter similarity join

  /** d17: exact-threshold set-similarity self-join via PREFIX FILTERING
    * (the PPJoin family, Xiao et al. 2008) — the third candidate-
    * generation strategy beside LSH banding (d3, probabilistic recall)
    * and the df-capped inverted index (d4, top-k): deterministic 100%
    * recall at a hard Jaccard threshold, with candidates pruned by a
    * provable prefix bound instead of hash luck.
    *
    * Order each doc's shingle set by (global df asc, hash asc) — rarest
    * first — and keep only the first n − ⌈t·n⌉ + 1 entries as its
    * prefix. Any pair with J ≥ t MUST share its (globally) smallest
    * common shingle inside both prefixes (if the smallest common element
    * escaped A's prefix, all |A∩B| ≥ ⌈t·|A|⌉ common elements would sit
    * in A's last ⌈t·|A|⌉ − 1 positions — pigeonhole contradiction), so
    * the equi-join on prefix entries is complete. Rarest-first ordering
    * makes the join keys the LOW-df shingles — candidate count is
    * Σ df_prefix², with the stop-phrase shingles pushed out of every
    * prefix, the same Σdf² control d4 gets by capping, but lossless.
    *
    * The threshold predicate is exact integer arithmetic
    * (3·|A∩B| ≥ |A|+|B| ⟺ J ≥ ½ for t = ½): no float boundary, so the
    * engines' different (but each internally consistent) tie orders
    * cannot disagree on the output set — completeness holds under ANY
    * total order, per engine. Verification joins the candidate pairs
    * back to the memoized 64-bit shingle arrays (array_intersect), as
    * d3 does. */
  def prefixFilterPairs(base: DataFrame): DataFrame = {
    graft.functions.SortedIntersectCount.register(base.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(asc("df_s"), asc("s"))
    val inv = base.select(col("doc_id"), col("n"), explode(col("shh")).as("s"))
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df_s"))
    val prefix = inv.join(dfreq, "s")
      .withColumn("pos", row_number().over(w))
      // prefix length n − ⌈n/2⌉ + 1, in exact integer arithmetic
      .filter(col("pos") <= col("n") - (col("n") + 1).divide(2).cast("long") + 1)
      .select("doc_id", "s")
      .loopCheckpoint(true) // feeds both sides of the candidate join
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("shh").as("sh_a"), col("n").as("na")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shh").as("sh_b"), col("n").as("nb")), "doc_b")
      // size prefilter (round 17, VERDICT r16 item 10): inter ≤ min(na,
      // nb), so a pair can only survive inter·3 ≥ na+nb if 3·min ≥
      // na+nb — a necessary condition checked on two ints BEFORE the
      // O(na+nb) per-pair set intersect. Sound: never drops a pair the
      // threshold would keep; the oracle keeps the plain form (the
      // dropped pairs produce no output row on either engine).
      .filter(least(col("na"), col("nb")) * 3 >= col("na") + col("nb"))
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .cast(Out6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  def prefixFilterPairsSql: String = {
    val sh = shinglesSql("text")
    s"""WITH base AS (
       |  SELECT doc_id, $sh AS sh FROM documents
       |), inv AS (
       |  SELECT doc_id, len(sh) AS n, u.s FROM base, UNNEST(sh) AS u(s)
       |), dfreq AS (
       |  SELECT s, count(*) AS df_s FROM inv GROUP BY s
       |), prefix AS (
       |  SELECT doc_id, s FROM (
       |    SELECT i.doc_id, i.s,
       |      row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df_s ASC, i.s ASC) AS pos,
       |      i.n
       |    FROM inv i JOIN dfreq d USING (s))
       |  WHERE pos <= n - (n + 1) // 2 + 1
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
       |), ver AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |    len(sa.sh) AS na, len(sb.sh) AS nb
       |  FROM cand JOIN base sa ON doc_a = sa.doc_id
       |            JOIN base sb ON doc_b = sb.doc_id
       |)
       |SELECT doc_a, doc_b,
       |  CAST(round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS DECIMAL(18,6)) AS jaccard
       |FROM ver WHERE inter * 3 >= na + nb ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------- per-source duplication rates

  /** d18: duplication scorecard per source — for each ingest source, the
    * fraction of its documents that are exact duplicates (md5 group
    * size > 1 anywhere in the corpus) and near-duplicates (appearing in
    * the LSH-verified pair set, either side). The per-source view is
    * what curation actually acts on: a source whose near-dup rate spikes
    * gets throttled or re-crawled, a corpus-wide average hides that.
    *
    * Shape: the exact flag joins docs to 16-byte md5 group counts (d1's
    * shuffle — hashes, never text); the near flag is a left join against
    * the distinct members of the MEMOIZED d3 pair set (`cachedLshPairs`,
    * shared with d3/d7/d8 — registering this query adds no LSH work);
    * the output is one row per source. */
  def dupRateBySource(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val withH = docs.select(col("doc_id"), col("source"),
      md5(col("text").cast("binary")).as("h"))
    val hc = withH.groupBy("h").agg(count(lit(1)).as("c"))
    val nearIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("near", lit(1L))
    withH.join(hc, "h")
      .join(nearIds, Seq("doc_id"), "left_outer")
      .select(col("source"),
        (col("c") > 1).cast("long").as("is_exact"),
        coalesce(col("near"), lit(0L)).as("is_near"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_exact").cast("long").as("n_exact"),
        sum("is_near").cast("long").as("n_near"))
      .select(col("source"), col("n_docs"), col("n_exact"), col("n_near"),
        round(col("n_exact").cast("double") / col("n_docs"), 6).cast(Out6).as("exact_rate"),
        round(col("n_near").cast("double") / col("n_docs"), 6).cast(Out6).as("near_rate"))
      .orderBy("source")
  }

  def dupRateBySourceSql(minJaccard: Double = 0.1): String =
    s"""WITH ${lshCtesSql("documents")},
       |near AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM verified WHERE jaccard >= $minJaccard
       |    UNION ALL
       |    SELECT doc_b FROM verified WHERE jaccard >= $minJaccard)
       |), hc AS (
       |  SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY md5(text)
       |), flags AS (
       |  SELECT d.source,
       |    CASE WHEN hc.c > 1 THEN 1 ELSE 0 END AS is_exact,
       |    CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_near
       |  FROM documents d JOIN hc ON md5(d.text) = hc.h
       |  LEFT JOIN near n ON d.doc_id = n.doc_id
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(SUM(is_exact) AS BIGINT) AS n_exact,
       |  CAST(SUM(is_near) AS BIGINT) AS n_near,
       |  CAST(round(CAST(SUM(is_exact) AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS exact_rate,
       |  CAST(round(CAST(SUM(is_near) AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS near_rate
       |FROM flags GROUP BY source ORDER BY source""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("d1_exact_dedup", (s, dir) =>
      dupHistogram(Tables.documents(s, dir)).orderBy("n_copies"), () =>
      """WITH g AS (SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |           FROM documents GROUP BY md5(text))
        |SELECT n_copies, count(*) AS n_groups FROM g GROUP BY n_copies ORDER BY n_copies""".stripMargin),
    QuerySpec("d2_minhash_sig", (s, dir) =>
      cachedLanes(s, dir)
        .select(col("doc_id"),
          concat_ws(",", (0 until 8).map(i => col(s"mh$i")): _*).as("sig"))
        .orderBy("doc_id"), () =>
      s"""WITH sigs AS (
         |  ${minhashLanesSql.replace("\n", "\n  ")}
         |)
         |SELECT doc_id, ${(0 until 8).map(i => s"mh$i").mkString(" || ',' || ")} AS sig
         |FROM sigs ORDER BY doc_id""".stripMargin),
    QuerySpec("d3_lsh_near_dups", (s, dir) => cachedLshPairs(s, dir),
      () => lshNearDupsSql(), Seq("jaccard")),
    QuerySpec("d4_ngram_jaccard", (s, dir) => ngramJaccardTopFromBase(shingleBase(s, dir)),
      () => ngramJaccardTopSql(), Seq("jaccard")),
    QuerySpec("d5_simhash", (s, dir) => cachedSimhash(s, dir).orderBy("doc_id"), () => simhashSql),
    QuerySpec("d6_simhash_pairs", (s, dir) => simhashPairsFromSig(cachedSimhash(s, dir)),
      () => simhashPairsSql()),
    QuerySpec("d7_curation_pipeline", (s, dir) =>
      curationPipelineFromPairs(Tables.documents(s, dir), cachedLshPairs(s, dir)),
      () => curationPipelineSql()),
    QuerySpec("d8_dup_clusters", (s, dir) => cachedClusters(s, dir).orderBy("doc_id"),
      () => nearDupClustersSql()),
    QuerySpec("d11_canonical_docs", (s, dir) =>
      canonicalDocs(Tables.documents(s, dir), cachedClusters(s, dir)),
      () => canonicalDocsSql()),
    QuerySpec("d9_decontaminate", (s, dir) =>
      decontaminateFromBase(Tables.documents(s, dir),
        shingleBase(s, dir).select("doc_id", "shh")),
      () => decontaminateSql(), Seq("overlap_frac")),
    QuerySpec("d10_minhash_estimate", minhashJaccardEstimate _,
      () => minhashJaccardEstimateSql(), Seq("jaccard", "jaccard_est")),
    QuerySpec("d12_repeated_spans", (s, dir) => repeatedSpansFromSpans(cachedSpans(s, dir)),
      () => repeatedSpansSql(), Seq("shared_frac")),
    QuerySpec("d13_span_novelty", (s, dir) => spanNoveltyFromSpans(cachedSpans(s, dir)),
      () => spanNoveltySql(), Seq("novel_frac")),
    QuerySpec("d14_incremental_ingest", (s, dir) => incrementalIngest(Tables.documents(s, dir)),
      () => incrementalIngestSql),
    QuerySpec("d21_near_dup_ingest", (s, dir) => nearDupIngest(s, dir), () => nearDupIngestSql()),
    QuerySpec("d22_fuzzy_match", (s, dir) => fuzzyNameMatch(Tables.customer(s, dir)),
      () => fuzzyNameMatchSql()),
    QuerySpec("d15_source_contamination", (s, dir) =>
      crossSourceContamination(Tables.documents(s, dir), cachedSpans(s, dir)),
      () => crossSourceContaminationSql(), Seq("jaccard")),
    QuerySpec("d16_lsh_tuning", (s, _) => lshTuning(s),
      () => lshTuningSql, Seq("s", "p_candidate")),
    QuerySpec("d17_prefix_join", (s, dir) => prefixFilterPairs(shingleBase(s, dir)),
      () => prefixFilterPairsSql, Seq("jaccard")),
    QuerySpec("d18_dup_rate_by_source", (s, dir) =>
      dupRateBySource(Tables.documents(s, dir), cachedLshPairs(s, dir)),
      () => dupRateBySourceSql(), Seq("exact_rate", "near_rate")),
    QuerySpec("d19_containment", (s, dir) => containmentTopFromBase(shingleBase(s, dir)),
      () => containmentTopSql(), Seq("containment")),
    QuerySpec("d20_threshold_curve", (s, dir) => thresholdCurve(cachedLshPairs(s, dir)),
      () => thresholdCurveSql(), Seq("t")),
    QuerySpec("d23_leakage_split", (s, dir) =>
      leakageSplit(Tables.documents(s, dir), cachedClusters(s, dir),
        cachedLshPairs(s, dir)),
      () => leakageSplitSql()),
    QuerySpec("d24_entity_resolution", (s, dir) => entityResolution(Tables.customer(s, dir)),
      () => entityResolutionSql()),
  )
}
