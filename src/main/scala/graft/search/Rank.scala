package graft.search

import graft.QuerySpec
import graft.plans.Lineage.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.Materialized
import graft.sources.Tables
import graft.text.Tokenize

/** Ranked-retrieval extensions over the TF-IDF inverted index: Okapi
  * BM25 scoring and positional phrase search (ref:
  * ScalaNotebooks/MovieSearchEngine.scala builds the tf/df index this
  * module consumes — :128-151; BM25 and phrase matching are the two
  * standard retrieval operators the reference's engine stops short of).
  *
  * Both reuse the SAME memoized postings build as t1/t2/t3 (one
  * tokenize+aggregate pass per session/sf-dir), so registering them adds
  * no new corpus scan.
  *
  * Scale shape: BM25's per-query work after the index build is a
  * broadcast semi-join of the (tiny) query-term set against the
  * term-partitioned postings followed by one doc-keyed aggregate —
  * identical to the t2 cosine plan. Phrase search shuffles ONLY the two
  * phrase terms' positional postings (filter pushed below the join),
  * never the corpus.
  *
  * Cross-engine determinism: ln() outputs are rounded to 6 dp into
  * DECIMAL at birth (the libm rule); the remaining per-term arithmetic
  * is IEEE double with identical association on both engines; per-doc
  * sums are decimal-quantized (order-independent); the final rounded
  * score is emitted as DECIMAL(18,6) on both sides (no double bit
  * patterns reach the driver's hash).
  */
object Rank {
  private val Dec = DecimalType(32, 12)
  private val Out6 = DecimalType(18, 6)

  /** Same memo key as SparkEntry's postings cache — t1/t2/t3/t4 all
    * share one index build per (session, sf-dir). */
  private[graft] def cachedPostings(s: SparkSession, dir: String): DataFrame =
    Materialized(s, s"tfidf_postings:${Tables.norm(dir)}")(
      TfIdf.postings(Tables.documents(s, dir)))

  /** Memoized BM25 doc-length table (Σ tf per doc, derived from the
    * postings memo — no corpus scan): t4 and t8 share ONE build per
    * (session, sf-dir) instead of each re-aggregating and eagerly
    * checkpointing it per call. */
  private[graft] def cachedDl(s: SparkSession, dir: String): DataFrame =
    Materialized(s, s"bm25_dl:${Tables.norm(dir)}")(
      cachedPostings(s, dir).groupBy("doc_id").agg(sum("tf").as("dl")))

  /** Shared Okapi BM25 scoring core — ONE body serving both the
    * single-query path ([[bm25]], a batch of one) and the batch path
    * ([[bm25Batch]]), so the batch/single slice-parity pinned by
    * `RankSpec` cannot silently rot (VERDICT r9 finding 2).
    *
    * Input `qterms` is a tiny DISTINCT (qid, term) frame; output is
    * (qid, doc_id, score DECIMAL(18,6)) with
    * score(D) = Σ_t idf_t · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf_t = ln((N − df + ½)/(df + ½) + 1) (the Robertson/Sparck-Jones
    * plus-one variant — always positive), k1 = 1.2, b = 0.75 (the
    * standard constants, inlined identically in the oracle).
    *
    * dl (doc length) and avgdl are measured over the same stopword-
    * filtered tokens as the index, derived FROM the postings frame
    * (Σ tf per doc) — no second corpus scan, computed ONCE for the whole
    * batch. N is the doc-length table's row count (docs with ≥1 indexed
    * token; a doc with no tokens can match no query term). Callers that
    * already hold a memoized dl table (the registry: [[cachedDl]]) pass
    * it via `dlOpt` so repeated queries share one build per session. */
  private def bm25Scores(postings: DataFrame, qterms: DataFrame,
                         dlOpt: Option[DataFrame] = None): DataFrame = {
    val dl = dlOpt.getOrElse(postings.groupBy("doc_id").agg(sum("tf").as("dl"))
      .loopCheckpoint(true)) // feeds both the scalar stats and the score join
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
    // df for the query terms only — the aggregate runs AFTER the
    // broadcast semi-join prunes the postings scan to the query terms
    val qpost = postings.join(broadcast(qterms), "term")
      .select("qid", "term", "doc_id", "tf", "df")
    // idf per query term: decimal at birth (6-dp round of the ln output)
    val scored = qpost.crossJoin(broadcast(stats))
      .withColumn("idf6",
        round(log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)), 6).cast(Out6))
      .join(dl, "doc_id")
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("score_t",
        ((col("idf6").cast("double") * (col("tf").cast("double") * lit(2.2))) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
          .cast(Dec))
    scored.groupBy("qid", "doc_id")
      .agg(round(sum("score_t").cast("double"), 6).cast(Out6).as("score"))
  }

  /** Okapi BM25 top-k — a batch of one through [[bm25Scores]]; see its
    * scaladoc for the formula and constants. The final orderBy+limit
    * compiles to TakeOrderedAndProject (partial top-k, no global
    * sort). */
  def bm25(postings: DataFrame, terms: Seq[String], k: Int = 10,
           dlOpt: Option[DataFrame] = None): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val qterms = terms.distinct.map(t => (0L, t)).toDF("qid", "term")
    bm25Scores(postings, qterms, dlOpt)
      .select("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai/Lafferty) —
    * the third classical ranking family after TF-IDF cosine (t2) and
    * BM25 (t4), scoring log p(q|d) under a document language model
    * smoothed by the collection model:
    *
    *   score(d) = Σ_{t∈q∩d} ln(1 + tf_td / (μ · p(t|C)))
    *              + |q| · ln(μ / (dl_d + μ))
    *
    * (duplicate query terms are deduped — the t4 convention — so the
    * qtf multiplier is identically 1; an out-of-vocabulary query term
    * contributes only through the |q| length normalizer, the standard
    * OOV treatment, identically on both engines. This is the standard
    * decomposition: only MATCHING postings contribute the
    * first term, and the second is a per-document length normalizer —
    * so the plan touches the query terms' postings plus the memoized
    * doc-length table, exactly the t4 shape; docs matching no query
    * term are excluded, the same candidate rule as t2/t4). p(t|C) =
    * cf_t / |C| over the stopword-filtered index.
    *
    * Cross-engine determinism (the x14/bm25 rule): both ln() outputs are
    * rounded to 6 dp into DECIMAL at birth; their inputs are IEEE-
    * identical expression trees of exact integers (tf, cf, |C|, dl) and
    * the literal μ; per-doc sums are decimal-quantized; the final score
    * is DECIMAL(18,6). */
  private def qlScores(postings: DataFrame, qterms: DataFrame,
                       mu: Double, dlOpt: Option[DataFrame]): DataFrame = {
    val dl = dlOpt.getOrElse(postings.groupBy("doc_id").agg(sum("tf").as("dl"))
      .loopCheckpoint(true))
    val stats = dl.agg(sum("dl").as("total_dl"))
    // collection frequency for the query terms only — aggregated AFTER
    // the broadcast semi-join prunes the postings to the query terms
    val qpost = postings.join(broadcast(qterms), "term")
      .select("qid", "term", "doc_id", "tf")
      .loopCheckpoint(true) // feeds cf AND the per-doc scores
    val cf = qpost.groupBy("qid", "term").agg(sum("tf").as("cf"))
    val nq = qterms.groupBy("qid").agg(count(lit(1)).as("n_terms"))
    val matchTerm = qpost
      .join(broadcast(cf), Seq("qid", "term"))
      .crossJoin(broadcast(stats))
      .withColumn("lp",
        round(log(lit(1.0) + col("tf").cast("double") /
          (lit(mu) * (col("cf").cast("double") / col("total_dl").cast("double")))), 6)
          .cast(Out6))
      .groupBy("qid", "doc_id")
      .agg(sum(col("lp").cast(Dec)).as("match_sum"))
    matchTerm
      .join(dl, "doc_id")
      .join(broadcast(nq), "qid")
      .select(col("qid"), col("doc_id"),
        round(col("match_sum").cast("double") +
          col("n_terms").cast("double") *
            BigDecimalRound6(log(lit(mu) / (col("dl").cast("double") + lit(mu)))), 6)
          .cast(Out6).as("score"))
  }

  /** round(ln, 6) helper kept expression-shaped so both uses read the
    * same (decimal-at-birth, then back to double for the arithmetic). */
  private def BigDecimalRound6(c: Column): Column =
    round(c, 6).cast(Out6).cast("double")

  /** Dirichlet query-likelihood top-k — a batch of one through
    * [[qlScores]]; μ = 2000 (the standard prior). */
  def qlSearch(postings: DataFrame, terms: Seq[String], k: Int = 10,
               mu: Double = 2000.0, dlOpt: Option[DataFrame] = None): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val qterms = terms.distinct.map(t => (0L, t)).toDF("qid", "term")
    qlScores(postings, qterms, mu, dlOpt)
      .select("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  def qlSearchSql(terms: Seq[String], k: Int = 10, mu: Double = 2000.0): String = {
    val termRows = terms.distinct.map(t => s"('$t')").mkString(", ")
    s"""${TfIdf.postingsSql},
       |dl AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
       |), stats AS (
       |  SELECT CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl
       |), qterms AS (SELECT term FROM (VALUES $termRows) AS q(term)),
       |qpost AS (
       |  SELECT p.term, p.doc_id, p.tf FROM postings p JOIN qterms USING (term)
       |), cf AS (
       |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM qpost GROUP BY term
       |), nq AS (SELECT count(*) AS n_terms FROM qterms),
       |match_sum AS (
       |  SELECT q.doc_id,
       |    SUM(CAST(CAST(round(ln(1.0 + CAST(q.tf AS DOUBLE) /
       |          ($mu * (CAST(c.cf AS DOUBLE) / CAST(s.total_dl AS DOUBLE)))), 6)
       |        AS DECIMAL(18,6)) AS DECIMAL(32,12))) AS ms
       |  FROM qpost q JOIN cf c USING (term) CROSS JOIN stats s
       |  GROUP BY q.doc_id
       |)
       |SELECT m.doc_id,
       |  CAST(round(CAST(m.ms AS DOUBLE) +
       |    CAST(n.n_terms AS DOUBLE) *
       |      CAST(CAST(round(ln($mu / (CAST(d.dl AS DOUBLE) + $mu)), 6)
       |        AS DECIMAL(18,6)) AS DOUBLE), 6) AS DECIMAL(18,6)) AS score
       |FROM match_sum m JOIN dl d USING (doc_id) CROSS JOIN nq n
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** RM3 pseudo-relevance-feedback weights (Lavrenko/Croft relevance
    * model, the standard RM3 interpolation): run the Dirichlet QL pass
    * ([[qlScores]]) once, take the top-`fbDocs` feedback documents, and
    * build the truncated relevance model
    *
    *   P(w|R) = (1/N) Σ_{d∈F} tf_wd / dl_d   (uniform doc weights —
    *   the deterministic variant: score-proportional weights would put
    *   exp() of a rounded log into the weight path for no ranking
    *   benefit at this feedback depth),
    *
    * truncated to the top-`fbTerms` terms (exact-decimal P desc, term
    * asc — contributions are quantized to DECIMAL(32,12) at birth so
    * the selection can never flip on summation order), renormalized,
    * and interpolated with the uniform original-query model:
    *
    *   w(t) = λ·1/|q|·[t ∈ q] + (1−λ)·P(t|R)/Z .
    *
    * Output: (term, w) with Σw = 1 analytically (both passes' weight
    * masses each sum to 1 by construction), ≤ |q| + fbTerms rows.
    * Everything after the postings probe is metadata-sized: the
    * feedback set is N rows, the relevance model M rows. */
  private[search] def rm3Weights(postings: DataFrame, terms: Seq[String],
                                 fbDocs: Int, fbTerms: Int, lambda: Double,
                                 mu: Double, dl: DataFrame): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val distinct = terms.distinct
    val qterms = distinct.map(t => (0L, t)).toDF("qid", "term")
    val fb = qlScores(postings, qterms, mu, Some(dl))
      .orderBy(desc("score"), asc("doc_id")).limit(fbDocs)
      .select("doc_id")
    val fbdl = dl.join(broadcast(fb), "doc_id") // N rows: feedback docs + lengths
    val rm = postings.join(broadcast(fbdl), "doc_id")
      .withColumn("contrib",
        round(col("tf").cast("double") / col("dl").cast("double"), 12).cast(Dec))
      .groupBy("term").agg(sum("contrib").as("rm_dec"))
      .orderBy(desc("rm_dec"), asc("term")).limit(fbTerms)
      .loopCheckpoint(true) // M rows; feeds the normalizer AND the weights
    val z = rm.agg(sum("rm_dec").as("z_dec"))
    val wExp = rm.crossJoin(broadcast(z))
      .select(col("term"), (lit(1.0 - lambda) *
        (col("rm_dec").cast("double") / col("z_dec").cast("double"))).as("w_exp"))
    val wq = distinct.map(t => (t, lambda / distinct.size.toDouble))
      .toDF("term", "w_q")
    wq.join(wExp, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("w_q"), lit(0.0)) + coalesce(col("w_exp"), lit(0.0))).as("w"))
  }

  /** RM3 query-expansion retrieval (t11): Dirichlet QL feedback pass →
    * [[rm3Weights]] → a second, WEIGHTED Dirichlet QL pass scored as
    * KL-divergence retrieval:
    *
    *   score(d) = Σ_{t∈q'∩d} w(t)·ln(1 + tf/(μ·p(t|C)))
    *              + 1·ln(μ/(dl_d + μ))
    *
    * — the t10 decomposition with per-term weights; the length
    * normalizer's coefficient is the analytic Σw = 1 (a constant on
    * both engines, not a float accumulation). An original query term
    * that is OOV keeps its λ/|q| weight mass but can match nothing, so
    * it contributes only through the normalizer — the t10 OOV rule
    * carried to the weighted form. Per-(term,doc) contributions are
    * w·lp rounded to 12 dp into DECIMAL at birth (w and lp are
    * IEEE-identical doubles on both engines), so per-doc sums are
    * order-independent and the driver hash is partitioning-proof.
    *
    * Scale shape: two postings probes (each a broadcast semi-join on
    * ≤ |q|+fbTerms terms), two metadata-sized weight frames, one
    * doc-keyed aggregate per pass — no corpus-wide shuffle beyond the
    * shared postings/doc-length builds every t-family query reuses. */
  def rm3Search(postings: DataFrame, terms: Seq[String], k: Int = 10,
                fbDocs: Int = 10, fbTerms: Int = 10, lambda: Double = 0.5,
                mu: Double = 2000.0, dlOpt: Option[DataFrame] = None): DataFrame = {
    val dl = dlOpt.getOrElse(postings.groupBy("doc_id").agg(sum("tf").as("dl"))
      .loopCheckpoint(true))
    val weights = rm3Weights(postings, terms, fbDocs, fbTerms, lambda, mu, dl)
      .loopCheckpoint(true) // ≤ |q|+M rows; feeds the probe AND the scorer
    val stats = dl.agg(sum("dl").as("total_dl"))
    val qpost = postings.join(broadcast(weights.select("term")), "term")
      .select("term", "doc_id", "tf")
      .loopCheckpoint(true) // feeds cf AND the per-doc scores
    val cf = qpost.groupBy("term").agg(sum("tf").as("cf"))
    val matchSum = qpost
      .join(broadcast(cf), "term")
      .join(broadcast(weights), "term")
      .crossJoin(broadcast(stats))
      .withColumn("lp",
        round(log(lit(1.0) + col("tf").cast("double") /
          (lit(mu) * (col("cf").cast("double") / col("total_dl").cast("double")))), 6)
          .cast(Out6))
      .withColumn("contrib", round(col("w") * col("lp").cast("double"), 12).cast(Dec))
      .groupBy("doc_id").agg(sum("contrib").as("match_sum"))
    matchSum
      .join(dl, "doc_id")
      .select(col("doc_id"),
        round(col("match_sum").cast("double") +
          BigDecimalRound6(log(lit(mu) / (col("dl").cast("double") + lit(mu)))), 6)
          .cast(Out6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  def rm3SearchSql(terms: Seq[String], k: Int = 10, fbDocs: Int = 10,
                   fbTerms: Int = 10, lambda: Double = 0.5,
                   mu: Double = 2000.0): String = {
    val distinct = terms.distinct
    val termRows = distinct.map(t => s"('$t')").mkString(", ")
    val nq = distinct.size
    s"""${TfIdf.postingsSql},
       |dl AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
       |), stats AS (
       |  SELECT CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl
       |), qterms AS (SELECT term FROM (VALUES $termRows) AS q(term)),
       |qpost1 AS (
       |  SELECT p.term, p.doc_id, p.tf FROM postings p JOIN qterms USING (term)
       |), cf1 AS (
       |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM qpost1 GROUP BY term
       |), nq AS (SELECT count(*) AS n_terms FROM qterms),
       |ms1 AS (
       |  SELECT q.doc_id,
       |    SUM(CAST(CAST(round(ln(1.0 + CAST(q.tf AS DOUBLE) /
       |          ($mu * (CAST(c.cf AS DOUBLE) / CAST(s.total_dl AS DOUBLE)))), 6)
       |        AS DECIMAL(18,6)) AS DECIMAL(32,12))) AS ms
       |  FROM qpost1 q JOIN cf1 c USING (term) CROSS JOIN stats s
       |  GROUP BY q.doc_id
       |), fb AS (
       |  SELECT m.doc_id
       |  FROM ms1 m JOIN dl d USING (doc_id) CROSS JOIN nq n
       |  ORDER BY CAST(round(CAST(m.ms AS DOUBLE) +
       |      CAST(n.n_terms AS DOUBLE) *
       |        CAST(CAST(round(ln($mu / (CAST(d.dl AS DOUBLE) + $mu)), 6)
       |          AS DECIMAL(18,6)) AS DOUBLE), 6) AS DECIMAL(18,6)) DESC,
       |    m.doc_id ASC
       |  LIMIT $fbDocs
       |), rm AS (
       |  SELECT p.term,
       |    SUM(CAST(round(CAST(p.tf AS DOUBLE) / CAST(d.dl AS DOUBLE), 12)
       |      AS DECIMAL(32,12))) AS rm_dec
       |  FROM postings p JOIN fb USING (doc_id) JOIN dl d USING (doc_id)
       |  GROUP BY p.term
       |  ORDER BY rm_dec DESC, p.term ASC LIMIT $fbTerms
       |), z AS (SELECT SUM(rm_dec) AS z_dec FROM rm),
       |w_exp AS (
       |  SELECT term, ${1.0 - lambda} * (CAST(rm_dec AS DOUBLE) / CAST(z_dec AS DOUBLE)) AS w_exp
       |  FROM rm CROSS JOIN z
       |), w_q AS (SELECT term, $lambda / $nq AS w_q FROM qterms),
       |weights AS (
       |  SELECT COALESCE(q.term, e.term) AS term,
       |    COALESCE(q.w_q, 0.0) + COALESCE(e.w_exp, 0.0) AS w
       |  FROM w_q q FULL OUTER JOIN w_exp e ON q.term = e.term
       |),
       |qpost2 AS (
       |  SELECT p.term, p.doc_id, p.tf
       |  FROM postings p JOIN (SELECT term FROM weights) wt USING (term)
       |), cf2 AS (
       |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM qpost2 GROUP BY term
       |), ms2 AS (
       |  SELECT q.doc_id,
       |    SUM(CAST(round(w.w *
       |        CAST(CAST(round(ln(1.0 + CAST(q.tf AS DOUBLE) /
       |            ($mu * (CAST(c.cf AS DOUBLE) / CAST(s.total_dl AS DOUBLE)))), 6)
       |          AS DECIMAL(18,6)) AS DOUBLE), 12) AS DECIMAL(32,12))) AS ms
       |  FROM qpost2 q JOIN cf2 c USING (term) JOIN weights w USING (term)
       |  CROSS JOIN stats s
       |  GROUP BY q.doc_id
       |)
       |SELECT m.doc_id,
       |  CAST(round(CAST(m.ms AS DOUBLE) +
       |    CAST(CAST(round(ln($mu / (CAST(d.dl AS DOUBLE) + $mu)), 6)
       |      AS DECIMAL(18,6)) AS DOUBLE), 6) AS DECIMAL(18,6)) AS score
       |FROM ms2 m JOIN dl d USING (doc_id)
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Positional phrase search: count of exact adjacent occurrences of a
    * two-word phrase per document, via the positional-postings
    * intersection plan (p2.pos = p1.pos + 1). Positions come from ONE
    * posexplode pass filtered to the two phrase terms BEFORE the
    * self-join — only those terms' postings are materialized and
    * shuffled. Raw tokens (stopwords kept): phrase adjacency must see
    * the original token stream. */
  def phraseSearch(docs: DataFrame, w1: String, w2: String): DataFrame = {
    val pos = docs.select(col("doc_id"),
        posexplode(Tokenize.rawTokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(w1, w2))
      .loopCheckpoint(true) // two-term postings only; feeds both join sides
    val a = pos.filter(col("term") === w1).select(col("doc_id"), col("pos"))
    val b = pos.filter(col("term") === w2)
      .select(col("doc_id").as("doc_b"), col("pos").as("pos_b"))
    a.join(b, col("doc_id") === col("doc_b") && col("pos_b") === col("pos") + 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy(desc("n_hits"), asc("doc_id"))
  }

  /** More-like-this: rank documents by true-cosine TF-IDF similarity to
    * a SOURCE document, using its `maxTerms` highest-tfidf terms as the
    * query vector (the Lucene MLT shape — truncating the query vector
    * bounds the postings probe to a handful of term lookups regardless
    * of document length; the candidate set is the union of those terms'
    * postings, never the corpus). Term selection is deterministic:
    * tfidf desc, term asc. The source doc's own row is excluded. */
  def moreLikeThis(postings: DataFrame, norms: DataFrame, docId: Long,
                   k: Int = 10, maxTerms: Int = 8): DataFrame = {
    val qvec = postings.filter(col("doc_id") === docId)
      .orderBy(desc("tfidf"), asc("term")).limit(maxTerms)
      .select(col("term"), col("tfidf").as("q_tfidf"))
    val qnorm = qvec.agg(
      sum((col("q_tfidf") * col("q_tfidf")).cast(Dec)).cast("double").as("qnorm2"))
    val dot = postings.filter(col("doc_id") =!= docId)
      .join(broadcast(qvec), "term")
      .groupBy("doc_id")
      .agg(sum((col("tfidf") * col("q_tfidf")).cast(Dec)).cast("double").as("dot"))
    dot.join(norms, "doc_id")
      .crossJoin(broadcast(qnorm))
      .select(col("doc_id"),
        round(col("dot") / (sqrt(col("norm2")) * sqrt(col("qnorm2"))), 6)
          .cast(Out6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  // ----------------------------------------------------- batched queries

  /** Per-query top-k over a (qid, doc_id, score) frame: row_number
    * window PARTITIONED BY qid, so each query ranks only its own
    * candidates — no global sort, no per-query job.
    *
    * Skew note (ADVICE r9): the window shuffles every candidate doc for
    * a query into one partition and fully sorts it — fine while each
    * query's candidate set (union of its terms' postings) is bounded,
    * but a stop-word-like query term over a 100 TB corpus makes its qid
    * partition corpus-sized. [[topKPerQueryAgg]] is the scale path for
    * that regime and the REGISTERED one; this window form is the
    * oracle-matching baseline it is spec-pinned against (`RankSpec`). */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("score"), asc("doc_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).drop("rk")
      .orderBy(asc("qid"), desc("score"), asc("doc_id"))
  }

  /** Skew-proof per-query top-k: the bounded typed
    * [[graft.functions.TopKAggregator]] keyed by qid. Each input
    * partition keeps O(k) state per query map-side and ships only k
    * (score, doc_id) pairs per (qid, partition) into the shuffle — a
    * stop-word query whose candidate set is corpus-sized costs its
    * partitions a running bounded selection instead of materializing
    * and sorting the whole set in one reducer (the row_number failure
    * mode above). Tie order matches the window form exactly (score
    * desc, doc_id asc — the aggregator's comparator).
    *
    * Score values survive the double round-trip exactly: every score
    * here is a 6-dp-rounded value of magnitude « 2^53/1e6, so
    * decimal→double→decimal is lossless and the output is row-identical
    * to [[topKPerQuery]] (spec-pinned on both the t7 and t8 shapes,
    * plus the registered queries' oracle hash at the driver gate).
    *
    * Contract guards (ADVICE r10): the row-identity claim only holds
    * for an exact (qid, doc_id, score) frame — extra columns would be
    * silently projected away where the window form keeps them, so the
    * shape is require()d at plan-build time; and the lossless
    * round-trip precondition |score| < 2^33 (where double ulp ≤ 1e-6,
    * strictly tighter than the naive 2^53/1e6) is enforced per row by
    * a codegen'd assert (one comparison — a future caller feeding wide
    * decimals fails loudly instead of silently diverging). */
  private[graft] def topKPerQueryAgg(scored: DataFrame, k: Int): DataFrame = {
    require(scored.columns.sorted.sameElements(Array("doc_id", "qid", "score")),
      s"topKPerQueryAgg needs exactly (qid, doc_id, score); got " +
        scored.columns.mkString("(", ", ", ")") +
        " — extra columns would silently drop (use topKPerQuery)")
    val spark = scored.sparkSession
    import spark.implicits._
    val scoreType = scored.schema("score").dataType
    // |v| < 2^33: there ulp(double(v)) ≤ 2^-20 < 1e-6, so the nearest
    // double sits within half a 6-dp grid step of v and HALF_UP rounding
    // recovers v exactly — the row-identity precondition. (The naive
    // 2^53/1e6 ≈ 9.0e9 bound is WRONG: it only makes v·1e6 an exact
    // integer, but the double nearest to v can still miss the grid by a
    // full step — measured: 8999999999.123456 round-trips to ...123455.)
    val maxLossless = 8589934592.0 // 2^33
    scored.select(col("qid").cast("long"), col("doc_id").cast("long"),
        when(abs(col("score").cast("double")) < lit(maxLossless),
            col("score").cast("double"))
          .otherwise(raise_error(concat(
            lit("topKPerQueryAgg: |score| breaks the lossless double round-trip: "),
            col("score").cast("string")))).as("score"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, d, s) => (d, s) }
      .agg(new graft.functions.TopKAggregator(k).toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), explode(col("topk")).as("p"))
      .select(col("qid"), col("p._2").as("doc_id"),
        col("p._1").cast(scoreType).as("score"))
      .orderBy(asc("qid"), desc("score"), asc("doc_id"))
  }

  /** Skew-proof per-query top-k, codegen form: a salted two-phase rank
    * window. Phase 1 ranks within (qid, salt = hash(doc_id) mod S) — a
    * hot query's candidate set splits across S reducer partitions, so
    * no reducer ever materializes more than |candidates|/S rows — and
    * keeps k rows per salt; phase 2 ranks the surviving k·S rows per
    * qid ([[topKPerQuery]]). Exact: every global top-k row is top-k
    * within its salt, and both phases order by (score desc, doc_id asc),
    * so the output is row-identical to the unsalted window (spec-pinned
    * alongside [[topKPerQueryAgg]]).
    *
    * Versus [[topKPerQueryAgg]] (the REGISTERED t7/t8 form): same
    * bounded-memory property and the path stays inside whole-stage
    * codegen (no typed encoder per row), but it pays a SECOND exchange
    * (qid,salt then qid) — measured ~1.4× slower at 1.4M candidates in
    * quiet-period medians, while agg and the plain window read the same
    * within noise (SCALE.md "batched search skew probe"). Kept as the
    * codegen alternative for regimes where per-row typed-encoder CPU
    * dominates the extra shuffle (very wide fan-in per query). S
    * defaults to the session's `spark.sql.shuffle.partitions` (VERDICT
    * r10 #3 — the literal 32 needed hand-raising at cluster scale;
    * the conf already IS the cluster's configured reduce parallelism,
    * so a 1000-executor session salts 1000 ways with no code change).
    * Pass `salts` explicitly to override. */
  private[graft] def saltCount(scored: DataFrame, salts: Int): Int =
    if (salts > 0) salts
    else scored.sparkSession.sessionState.conf.numShufflePartitions

  private[graft] def topKPerQuerySalted(scored: DataFrame, k: Int,
                                        salts: Int = -1): DataFrame = {
    val s = saltCount(scored, salts)
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("qid", "salt").orderBy(desc("score"), asc("doc_id"))
    val pre = scored
      .withColumn("salt", pmod(hash(col("doc_id")), lit(s)))
      .withColumn("rk", row_number().over(w1))
      .filter(col("rk") <= k).drop("rk", "salt")
    topKPerQuery(pre, k)
  }

  /** Batched multi-query TF-IDF search — N queries served from ONE
    * postings pass (ref: ScalaNotebooks/MovieSearchEngine.scala:244,268
    * drives a FILE of search terms through a driver-side foreach, one
    * Spark job per term; at 100 TB that plan reads the index N times).
    * Here the whole query batch becomes a tiny (qid, term, qtf) frame
    * into the SAME scoring body as the single-query path
    * ([[TfIdf.cosineScores]] — including the reference's squared-norm
    * denominator quirk and the corrected `trueCosine` variant);
    * per-doc dots aggregate by (qid, doc_id) in one shuffle and each
    * query ranks its own candidates through the bounded map-side
    * selection ([[topKPerQueryAgg]]). Spec-pinned
    * (`RankSpec`): slicing the batch output at one qid equals the
    * single-query [[TfIdf.searchMulti]] call.
    *
    * A qid appearing in several batch tuples is merged: its term lists
    * concatenate (duplicate terms counted into qtf, the searchMulti
    * rule). */
  def searchBatch(postings: DataFrame, norms: DataFrame,
                  queries: Seq[(Long, Seq[String])], k: Int = 10,
                  trueCosine: Boolean = false): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val qtf = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "term")
      .groupBy("qid", "term").agg(count(lit(1)).as("qtf"))
    topKPerQueryAgg(TfIdf.cosineScores(postings, norms, qtf, trueCosine), k)
  }

  /** Batched BM25 — the same one-postings-pass batch plan as
    * [[searchBatch]] with the [[bm25Scores]] scorer (the literal same
    * body as single-query [[bm25]]; spec-pinned per-slice identical):
    * per-(qid, doc) partial scores aggregate in one shuffle, per-query
    * top-k via the bounded map-side selection ([[topKPerQueryAgg]]);
    * dl/avgdl/N computed once for the whole batch.
    *
    * A qid appearing in several batch tuples is merged: the query is
    * the UNION of its terms ((qid, term) deduped globally, matching
    * bm25's `terms.distinct` — a duplicated term can never double-count
    * its per-term score; ADVICE r9). */
  def bm25Batch(postings: DataFrame, queries: Seq[(Long, Seq[String])],
                k: Int = 10, dlOpt: Option[DataFrame] = None): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .distinct.toDF("qid", "term")
    topKPerQueryAgg(bm25Scores(postings, qterms, dlOpt), k)
  }

  /** t9: hybrid retrieval fusion — reciprocal-rank fusion (the standard
    * RRF rule, constant c = 60) of the lexical TF-IDF ranking (t2's
    * scorer, the reference-quirk denominator — RRF consumes RANKS, and
    * the quirk is rank-preserving per query) and the embedding cosine
    * ranking (s1's exact top-k) over the shared doc/vec id space. The
    * shape every modern curation/retrieval stack runs: lexical recall +
    * semantic recall, fused without score calibration because ranks,
    * not scores, are combined.
    *
    * Each leg is an independent bounded top-`n` (TakeOrderedAndProject
    * on its own plan — the corpus is scanned once per leg, candidates
    * never exceed n rows per leg); the fusion is a FULL OUTER join of
    * two ≤ n-row frames plus one arithmetic projection — metadata-sized
    * work regardless of corpus scale. A ranker that misses a doc
    * contributes rank 0 (emitted as 0, never NULL — cross-engine null
    * representation is the one asymmetry the driver comparator
    * punishes), and rrf = Σ 1/(c + rank) over the rankers that saw it,
    * rounded to 6 dp (identical IEEE association on both engines). */
  def hybridRrf(postings: DataFrame, norms: DataFrame, emb: DataFrame,
                terms: Seq[String], queryVec: Long, n: Int = 20,
                k: Int = 10, c: Int = 60): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val qtf = terms.toDF("term").groupBy("term").agg(count(lit(1)).as("qtf"))
      .withColumn("qid", lit(0L))
    // each leg: bounded top-n FIRST (partial top-k, no global sort),
    // then a row_number over the surviving ≤ n rows
    val text = TfIdf.cosineScores(postings, norms, qtf, trueCosine = false)
      .select(col("doc_id"), col("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(n)
      .withColumn("text_rank",
        row_number().over(w.orderBy(desc("score"), asc("doc_id"))))
      .select("doc_id", "text_rank")
    val vec = graft.similarity.Similarity.knnBrute(emb, queryVec, n)
      .withColumn("vec_rank",
        row_number().over(w.orderBy(desc("cos"), asc("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("text_rank"), lit(0)).cast("long").as("text_rank"),
        coalesce(col("vec_rank"), lit(0)).cast("long").as("vec_rank"))
      .select(col("doc_id"), col("text_rank"), col("vec_rank"),
        round(
          when(col("text_rank") > 0,
            lit(1.0) / (lit(c).cast("double") + col("text_rank").cast("double")))
            .otherwise(lit(0.0)) +
          when(col("vec_rank") > 0,
            lit(1.0) / (lit(c).cast("double") + col("vec_rank").cast("double")))
            .otherwise(lit(0.0)), 6).cast(Out6).as("rrf"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(k)
  }

  /** Oracle twin of [[hybridRrf]]: each leg's existing oracle SQL as a
    * ranked derived table (CTEs nest inside derived tables, the
    * annRecallSql pattern), 0-filled ranks, the same IEEE sum. */
  def hybridRrfSql(terms: Seq[String], queryVec: Long, n: Int = 20,
                   k: Int = 10, c: Int = 60): String =
    s"""WITH txt AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS text_rank
       |  FROM (
       |  ${TfIdf.searchMultiSql(terms, n).replace("\n", "\n  ")}
       |  )
       |), vec AS (
       |  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS vec_rank
       |  FROM (
       |  ${graft.similarity.Similarity.knnBruteSql(queryVec, n).replace("\n", "\n  ")}
       |  )
       |)
       |SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       |  CAST(COALESCE(t.text_rank, 0) AS BIGINT) AS text_rank,
       |  CAST(COALESCE(v.vec_rank, 0) AS BIGINT) AS vec_rank,
       |  CAST(round(
       |    (CASE WHEN t.text_rank IS NOT NULL THEN 1.0 / ($c + t.text_rank) ELSE 0.0 END)
       |    + (CASE WHEN v.vec_rank IS NOT NULL THEN 1.0 / ($c + v.vec_rank) ELSE 0.0 END),
       |    6) AS DECIMAL(18,6)) AS rrf
       |FROM txt t FULL OUTER JOIN vec v ON t.doc_id = v.doc_id
       |ORDER BY rrf DESC, doc_id ASC LIMIT $k""".stripMargin

  // ---------------------------------------------------------------- oracle

  def bm25Sql(terms: Seq[String], k: Int = 10): String = {
    val termRows = terms.distinct.map(t => s"('$t')").mkString(", ")
    s"""${TfIdf.postingsSql},
       |dl AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
       |), stats AS (
       |  SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl
       |), qterms AS (SELECT term FROM (VALUES $termRows) AS q(term)),
       |qpost AS (
       |  SELECT p.term, p.doc_id, p.tf, p.df FROM postings p JOIN qterms USING (term)
       |), scored AS (
       |  SELECT q.doc_id,
       |    CAST(
       |      (CAST(CAST(round(ln((CAST(s.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5) /
       |                      (CAST(q.df AS DOUBLE) + 0.5) + 1.0), 6) AS DECIMAL(18,6)) AS DOUBLE)
       |        * (CAST(q.tf AS DOUBLE) * 2.2))
       |      / (CAST(q.tf AS DOUBLE)
       |         + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
       |                   / (CAST(s.total_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
       |      AS DECIMAL(32,12)) AS score_t
       |  FROM qpost q JOIN dl d USING (doc_id) CROSS JOIN stats s
       |)
       |SELECT doc_id, CAST(round(CAST(SUM(score_t) AS DOUBLE), 6) AS DECIMAL(18,6)) AS score
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  def moreLikeThisSql(docId: Long, k: Int = 10, maxTerms: Int = 8): String =
    s"""${TfIdf.postingsSql},
       |norms AS (
       |  SELECT doc_id, CAST(SUM(CAST(tfidf * tfidf AS DECIMAL(32,12))) AS DOUBLE) AS norm2
       |  FROM postings GROUP BY doc_id
       |), qv AS (
       |  SELECT term, tfidf AS q_tfidf FROM postings WHERE doc_id = $docId
       |  ORDER BY tfidf DESC, term ASC LIMIT $maxTerms
       |), qn AS (
       |  SELECT CAST(SUM(CAST(q_tfidf * q_tfidf AS DECIMAL(32,12))) AS DOUBLE) AS qnorm2 FROM qv
       |), dots AS (
       |  SELECT p.doc_id, CAST(SUM(CAST(p.tfidf * q.q_tfidf AS DECIMAL(32,12))) AS DOUBLE) AS dot
       |  FROM postings p JOIN qv q USING (term) WHERE p.doc_id != $docId GROUP BY p.doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(round(d.dot / (sqrt(n.norm2) * sqrt(q.qnorm2)), 6) AS DECIMAL(18,6)) AS score
       |FROM dots d JOIN norms n USING (doc_id) CROSS JOIN qn q
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin

  /** Oracle twin of [[searchBatch]] (quirk denominator, as t2):
    * flattened (qid, term) VALUES → qtf → one postings join → per-qid
    * rank window — mirrors `knnBatchSql`
    * ([[graft.similarity.Similarity]]). */
  def searchBatchSql(queries: Seq[(Long, Seq[String])], k: Int = 10): String = {
    val pairRows = queries.flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""${TfIdf.postingsSql}, norms AS (
       |  SELECT doc_id, CAST(SUM(CAST(tfidf * tfidf AS DECIMAL(32,12))) AS DOUBLE) AS norm2
       |  FROM postings GROUP BY doc_id
       |), qtf AS (
       |  SELECT CAST(qid AS BIGINT) AS qid, term, count(*) AS qtf
       |  FROM (VALUES $pairRows) AS q(qid, term) GROUP BY 1, 2
       |), idf AS (
       |  SELECT term, any_value(idf) AS idf FROM postings GROUP BY term
       |), qvec AS (
       |  SELECT q.qid, q.term, CAST(q.qtf AS DOUBLE) * idf.idf AS q_tfidf
       |  FROM qtf q JOIN idf USING (term)
       |), qnorms AS (
       |  SELECT qid, CAST(SUM(CAST(q_tfidf * q_tfidf AS DECIMAL(32,12))) AS DOUBLE) AS qnorm2
       |  FROM qvec GROUP BY qid
       |), dots AS (
       |  SELECT v.qid, p.doc_id,
       |         CAST(SUM(CAST(p.tfidf * v.q_tfidf AS DECIMAL(32,12))) AS DOUBLE) AS dot
       |  FROM postings p JOIN qvec v USING (term) GROUP BY v.qid, p.doc_id
       |), scored AS (
       |  SELECT d.qid, d.doc_id, round(d.dot / (n.norm2 * q.qnorm2), 6) AS score
       |  FROM dots d JOIN norms n USING (doc_id) JOIN qnorms q ON d.qid = q.qid
       |), rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS r
       |  FROM scored
       |)
       |SELECT qid, doc_id, score FROM rk WHERE r <= $k
       |ORDER BY qid ASC, score DESC, doc_id ASC""".stripMargin
  }

  /** Oracle twin of [[bm25Batch]]: globally-deduped (qid, term) VALUES
    * → one postings join → per-(qid, doc) sum → per-qid rank window. */
  def bm25BatchSql(queries: Seq[(Long, Seq[String])], k: Int = 10): String = {
    val pairRows = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .distinct.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""${TfIdf.postingsSql},
       |dl AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
       |), stats AS (
       |  SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl
       |), qterms AS (
       |  SELECT CAST(qid AS BIGINT) AS qid, term FROM (VALUES $pairRows) AS q(qid, term)
       |), qpost AS (
       |  SELECT t.qid, p.term, p.doc_id, p.tf, p.df
       |  FROM postings p JOIN qterms t USING (term)
       |), scored AS (
       |  SELECT q.qid, q.doc_id,
       |    CAST(
       |      (CAST(CAST(round(ln((CAST(s.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5) /
       |                      (CAST(q.df AS DOUBLE) + 0.5) + 1.0), 6) AS DECIMAL(18,6)) AS DOUBLE)
       |        * (CAST(q.tf AS DOUBLE) * 2.2))
       |      / (CAST(q.tf AS DOUBLE)
       |         + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
       |                   / (CAST(s.total_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
       |      AS DECIMAL(32,12)) AS score_t
       |  FROM qpost q JOIN dl d USING (doc_id) CROSS JOIN stats s
       |), perdoc AS (
       |  SELECT qid, doc_id,
       |         CAST(round(CAST(SUM(score_t) AS DOUBLE), 6) AS DECIMAL(18,6)) AS score
       |  FROM scored GROUP BY qid, doc_id
       |), rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS r
       |  FROM perdoc
       |)
       |SELECT qid, doc_id, score FROM rk WHERE r <= $k
       |ORDER BY qid ASC, score DESC, doc_id ASC""".stripMargin
  }

  def phraseSearchSql(w1: String, w2: String): String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks FROM documents
       |)
       |SELECT doc_id, count(*) AS n_hits
       |FROM t, UNNEST(range(1, len(toks))) AS u(i)
       |WHERE toks[u.i] = '$w1' AND toks[u.i + 1] = '$w2'
       |GROUP BY doc_id ORDER BY n_hits DESC, doc_id ASC""".stripMargin
  }

  // ----------------------------------------------------------- TextRank

  /** t12: TextRank keyword extraction (Mihalcea & Tarau '04) — corpus
    * keywords as PageRank centrality on the word co-occurrence graph:
    * stopword-filtered tokens (the shared [[Tokenize.tokens]], so the
    * graph matches the search family's vocabulary), an undirected edge
    * for every pair of words ADJACENT in the filtered sequence (window
    * 2), ranks from the id-type-agnostic [[graft.graph.Graph.pageRank]]
    * loop, top-k terms by (rank desc, term asc).
    *
    * The oracle reuses [[graft.graph.Graph.pageRankCtesSql]] over a word
    * edge CTE — the iterative double/DECIMAL dance is shared with g2,
    * not forked, so TextRank inherits its cross-engine exactness proof.
    *
    * 100 TB shape: the edge build is one corpus scan → explode adjacent
    * pairs → DISTINCT (shuffle on the pair key, map-side combinable);
    * the graph that PageRank then iterates on is VOCABULARY-sized, not
    * corpus-sized — Heaps' law keeps it orders of magnitude below the
    * input, so the loop's per-iteration joins run on a frame that fits
    * comfortably however large the corpus grows. */
  def textRank(docs: DataFrame, iterations: Int = 3, topK: Int = 20): DataFrame = {
    val toks = docs.select(Tokenize.tokens(col("text")).as("t"))
    val adj = toks.select(explode(
        zip_with(col("t"), slice(col("t"), lit(2), size(col("t"))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("b").isNotNull && col("a") =!= col("b"))
    val und = adj.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
      .loopCheckpoint(true) // vocabulary-sized; PR reads it 3+ times
    graft.graph.Graph.pageRank(edges, iterations)
      .orderBy(desc("rank"), asc("id"))
      .limit(topK)
      .select(col("id").as("term"), col("rank"))
  }

  def textRankSql(iterations: Int = 3, topK: Int = 20): String = {
    val toksExpr = Tokenize.tokensSql("text")
    val edgesBody =
      "SELECT u AS src, v AS dst FROM und UNION ALL SELECT v AS src, u AS dst FROM und"
    s"""WITH toks AS (SELECT $toksExpr AS t FROM documents),
       |adj AS (
       |  SELECT t[u.i] AS a, t[u.i + 1] AS b
       |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
       |),
       |und AS (
       |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
       |  FROM adj WHERE a <> b
       |),
       |${graft.graph.Graph.pageRankCtesSql(edgesBody, iterations)}
       |SELECT id AS term, round(rank, 12) AS rank FROM r$iterations
       |ORDER BY rank DESC, term ASC LIMIT $topK""".stripMargin
  }

  // --------------------------------------------------------- fuzzy search

  /** t13: typo-tolerant retrieval — each query term expands to the
    * vocabulary terms at MINIMUM edit distance within `maxDist` (exact
    * hit → itself at distance 0), weighted 1/(1+dist), and the weighted
    * expansion rides the SAME shared TF-IDF cosine core as t2/t7
    * ([[TfIdf.cosineScores]] — the fuzzy layer only builds a different
    * qtf frame, so scoring parity with the exact paths cannot drift).
    * A typo with no vocabulary term in range drops out, the t1 OOV
    * semantics.
    *
    * The vocabulary probe uses the d24 banded-levenshtein form (one
    * O(len·k) eval per pair via the threshold overload, `-1` past the
    * band) against the VOCABULARY — Heaps-law-bounded, orders of
    * magnitude below the corpus, and the query side broadcasts, so the
    * expansion costs one slim vocab scan regardless of corpus size.
    * Weights are decimal-at-birth (1, 0.5, 0.333333); the min-distance
    * selection compares exact integers. */
  def fuzzySearch(postings: DataFrame, norms: DataFrame, terms: Seq[String],
                  maxDist: Int = 2, k: Int = 10): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val vocab = postings.select("term").distinct()
    val cand = vocab.crossJoin(broadcast(terms.distinct.toDF("qterm")))
      .withColumn("dist", levenshtein(col("term"), col("qterm"), maxDist))
      .filter(col("dist") =!= -1)
    val best = cand.groupBy("qterm").agg(min("dist").as("mind"))
    val qtf = cand.join(broadcast(best), "qterm")
      .filter(col("dist") === col("mind"))
      .select(col("term"),
        round(lit(1.0) / (lit(1) + col("dist")), 6)
          .cast(DecimalType(18, 6)).as("w"))
      .groupBy("term").agg(sum("w").as("qtf"))
      .withColumn("qid", lit(0L))
    TfIdf.cosineScores(postings, norms, qtf, trueCosine = false)
      .select("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  def fuzzySearchSql(terms: Seq[String], maxDist: Int = 2, k: Int = 10): String = {
    val termRows = terms.distinct.map(t => s"('$t')").mkString(", ")
    s"""${TfIdf.postingsSql}, norms AS (
       |  SELECT doc_id, CAST(SUM(CAST(tfidf * tfidf AS DECIMAL(32,12))) AS DOUBLE) AS norm2
       |  FROM postings GROUP BY doc_id
       |), vocab AS (SELECT DISTINCT term FROM postings),
       |qraw AS (SELECT term AS qterm FROM (VALUES $termRows) AS q(term)),
       |cand AS (
       |  SELECT v.term, q.qterm, CAST(levenshtein(v.term, q.qterm) AS INT) AS dist
       |  FROM vocab v CROSS JOIN qraw q
       |  WHERE levenshtein(v.term, q.qterm) <= $maxDist
       |), best AS (SELECT qterm, MIN(dist) AS mind FROM cand GROUP BY qterm),
       |qterms AS (
       |  SELECT c.term,
       |    SUM(CAST(round(1.0 / (1 + c.dist), 6) AS DECIMAL(18,6))) AS qtf
       |  FROM cand c JOIN best b ON c.qterm = b.qterm AND c.dist = b.mind
       |  GROUP BY c.term
       |), idf AS (
       |  SELECT term, any_value(idf) AS idf FROM postings GROUP BY term
       |), qvec AS (
       |  SELECT q.term, CAST(q.qtf AS DOUBLE) * idf.idf AS q_tfidf
       |  FROM qterms q JOIN idf USING (term)
       |), qnorm AS (
       |  SELECT CAST(SUM(CAST(q_tfidf * q_tfidf AS DECIMAL(32,12))) AS DOUBLE) AS qnorm2 FROM qvec
       |), dot AS (
       |  SELECT p.doc_id, CAST(SUM(CAST(p.tfidf * q.q_tfidf AS DECIMAL(32,12))) AS DOUBLE) AS dot
       |  FROM postings p JOIN qvec q USING (term) GROUP BY p.doc_id
       |)
       |SELECT d.doc_id, round(d.dot / (n.norm2 * q.qnorm2), 6) AS score
       |FROM dot d JOIN norms n USING (doc_id) CROSS JOIN qnorm q
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  // -------------------------------------------------------------- registry

  private val bm25Terms = Seq("spark", "table", "query")

  /** Registered batch: qid 1 repeats t2's terms (its t7 slice must
    * reproduce t2's ranking), qid 2 is a two-term query, qid 3 carries a
    * duplicate term (exercises the qtf-count rule in t7 and the global
    * (qid, term) dedup rule in t8). */
  private val batchQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "table", "query"),
    2L -> Seq("table", "hash"),
    3L -> Seq("query", "spark", "query"))

  /** Per-position DCG discounts 1/log2(pos+1), 6-dp-quantized ONCE here
    * and rendered into BOTH the engine frame and the oracle's VALUES
    * list — the single-source-of-truth pattern (FunnelConfig precedent)
    * that removes any libm log2 cross-engine risk from the metric. */
  private[graft] def dcgDiscounts(k: Int): Seq[(Int, java.math.BigDecimal)] =
    (1 to k).map { i =>
      i -> new java.math.BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }

  /** t14: ranking-quality evaluation — nDCG@k and MRR for the t2 cosine
    * ranking, the offline metrics a search stack reports before shipping
    * a ranker change. Graded relevance is derived, not hand-labeled:
    * rel(doc) = number of DISTINCT query terms the doc contains (0..|q|),
    * the standard term-coverage pseudo-label; gain = 2^rel − 1 (exact
    * integer), DCG@k = Σ gain·discount(pos) with [[dcgDiscounts]]'
    * shared 6-dp literals, IDCG re-ranks the SAME k gains ideally
    * (rel desc), nDCG = DCG/IDCG, and MRR = 1/rank of the first
    * full-coverage doc (0 when none ranks).
    *
    * Scale shape: the ranking is t2's plan (memoized postings,
    * broadcast query side, TakeOrdered k); everything downstream — the
    * relevance join, both discount joins, the aggregates — runs on the
    * k-row frame. The relevance labels come from the postings index
    * (one filtered |q|-term slice, doc-keyed count), not a re-tokenize.
    * Exact decimal sums; the two divisions are doubles of exact-valued
    * decimals, rounded at birth. */
  def ndcgEval(postings: DataFrame, norms: DataFrame, terms: Seq[String],
               k: Int = 10): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val fullRel = terms.distinct.size
    val ranked = TfIdf.searchMulti(postings, norms, terms, k)
    val rel = postings.filter(col("term").isin(terms.distinct: _*))
      .groupBy("doc_id").agg(countDistinct("term").cast("int").as("rel"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("doc_id")) // k rows — sketch-sized window
    val disc = dcgDiscounts(k).map { case (p, d) => (p, BigDecimal(d)) }
      .toDF("pos", "d")
      .select(col("pos"), col("d").cast(Out6).as("d"))
    val base = ranked.join(rel, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("score"),
        coalesce(col("rel"), lit(0)).as("rel"))
      .withColumn("pos", row_number().over(w))
      .withColumn("gain", expr("CAST(shiftleft(1, rel) AS BIGINT)") - 1L)
      .loopCheckpoint(true) // k rows; feeds DCG, the ideal re-rank, MRR
    val iw = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rel"), asc("pos"))
    val ideal = base
      .select(col("gain"), row_number().over(iw).as("pos"))
      .join(broadcast(disc), "pos")
      .agg(sum(col("gain") * col("d")).cast(Out6).as("idcg"))
    base.join(broadcast(disc), "pos")
      .agg(count(lit(1)).as("n_ranked"),
        sum(col("gain") * col("d")).cast(Out6).as("dcg"),
        min(when(col("rel") === fullRel, col("pos"))).as("first_full"))
      .crossJoin(ideal)
      .select(col("n_ranked"), col("dcg"), col("idcg"),
        when(col("idcg") === lit(java.math.BigDecimal.ZERO).cast(Out6),
          lit(java.math.BigDecimal.ZERO).cast(Out6))
          .otherwise(round(col("dcg").cast("double") /
            col("idcg").cast("double"), 6).cast(Out6)).as("ndcg"),
        coalesce(
          round(lit(1).cast("double") / col("first_full"), 6).cast(Out6),
          lit(java.math.BigDecimal.ZERO).cast(Out6)).as("rr"))
  }

  def ndcgEvalSql(terms: Seq[String], k: Int = 10): String = {
    val termList = terms.distinct.map(t => s"'$t'").mkString(", ")
    val discVals = dcgDiscounts(k)
      .map { case (p, d) => s"($p, CAST($d AS DECIMAL(18,6)))" }.mkString(", ")
    s"""WITH ranked AS (
       |  SELECT doc_id, score,
       |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS pos
       |  FROM (${TfIdf.searchMultiSql(terms, k).replace("\n", "\n  ")}) r
       |), rel_t AS (
       |  SELECT doc_id, CAST(count(DISTINCT t.term) AS INT) AS rel
       |  FROM documents, UNNEST(${Tokenize.tokensSql("text")}) AS t(term)
       |  WHERE t.term IN ($termList) GROUP BY doc_id
       |), disc(pos, d) AS (VALUES $discVals),
       |base AS (
       |  SELECT r.pos, COALESCE(l.rel, 0) AS rel,
       |    CAST((1 << COALESCE(l.rel, 0)) - 1 AS BIGINT) AS gain
       |  FROM ranked r LEFT JOIN rel_t l USING (doc_id)
       |), ideal AS (
       |  SELECT gain, row_number() OVER (ORDER BY rel DESC, pos ASC) AS pos
       |  FROM base
       |), idcg_t AS (
       |  SELECT CAST(SUM(i.gain * d.d) AS DECIMAL(18,6)) AS idcg
       |  FROM ideal i JOIN disc d USING (pos)
       |), dcg_t AS (
       |  SELECT count(*) AS n_ranked,
       |    CAST(SUM(b.gain * d.d) AS DECIMAL(18,6)) AS dcg,
       |    MIN(CASE WHEN b.rel = ${terms.distinct.size} THEN b.pos END) AS first_full
       |  FROM base b JOIN disc d USING (pos)
       |)
       |SELECT n_ranked, dcg, idcg,
       |  CASE WHEN idcg = CAST(0 AS DECIMAL(18,6)) THEN CAST(0 AS DECIMAL(18,6))
       |       ELSE CAST(round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS DECIMAL(18,6)) END AS ndcg,
       |  COALESCE(CAST(round(CAST(1 AS DOUBLE) / first_full, 6) AS DECIMAL(18,6)),
       |           CAST(0 AS DECIMAL(18,6))) AS rr
       |FROM dcg_t CROSS JOIN idcg_t""".stripMargin
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("t7_tfidf_batch", (s, dir) => {
      val p = cachedPostings(s, dir)
      searchBatch(p, TfIdf.docNorms(p), batchQueries)
    }, () => searchBatchSql(batchQueries)),
    QuerySpec("t8_bm25_batch", (s, dir) =>
      bm25Batch(cachedPostings(s, dir), batchQueries,
        dlOpt = Some(cachedDl(s, dir))),
      () => bm25BatchSql(batchQueries), Seq("score")),
    QuerySpec("t4_bm25", (s, dir) =>
      bm25(cachedPostings(s, dir), bm25Terms, dlOpt = Some(cachedDl(s, dir))),
      () => bm25Sql(bm25Terms), Seq("score")),
    QuerySpec("t5_phrase_search", (s, dir) =>
      phraseSearch(Tables.documents(s, dir), "table", "hash"),
      () => phraseSearchSql("table", "hash")),
    QuerySpec("t6_more_like_this", (s, dir) => {
      val p = cachedPostings(s, dir)
      moreLikeThis(p, TfIdf.docNorms(p), docId = 0L)
    }, () => moreLikeThisSql(0L), Seq("score")),
    QuerySpec("t9_hybrid_rrf", (s, dir) => {
      val p = cachedPostings(s, dir)
      hybridRrf(p, TfIdf.docNorms(p), Tables.embeddings(s, dir),
        bm25Terms, queryVec = 0L)
    }, () => hybridRrfSql(bm25Terms, queryVec = 0L), Seq("rrf")),
    QuerySpec("t10_ql_search", (s, dir) =>
      qlSearch(cachedPostings(s, dir), bm25Terms,
        dlOpt = Some(cachedDl(s, dir))),
      () => qlSearchSql(bm25Terms), Seq("score")),
    QuerySpec("t11_rm3_search", (s, dir) =>
      rm3Search(cachedPostings(s, dir), bm25Terms,
        dlOpt = Some(cachedDl(s, dir))),
      () => rm3SearchSql(bm25Terms), Seq("score")),
    QuerySpec("t12_textrank_keywords", (s, dir) => textRank(Tables.documents(s, dir)),
      () => textRankSql()),
    QuerySpec("t13_fuzzy_search", (s, dir) => {
      val p = cachedPostings(s, dir)
      fuzzySearch(p, TfIdf.docNorms(p), fuzzyTerms)
    }, () => fuzzySearchSql(fuzzyTerms)),
    QuerySpec("t14_ndcg_eval", (s, dir) => {
      val p = cachedPostings(s, dir)
      ndcgEval(p, TfIdf.docNorms(p), evalTerms)
    }, () => ndcgEvalSql(evalTerms), Seq("dcg", "idcg", "ndcg", "rr")),
  )

  /** t2's query terms — t14 evaluates exactly the ranking t2 registers. */
  private val evalTerms = Seq("spark", "table", "query")

  /** Two typos of corpus terms plus one exact term: the exact hit must
    * ride through at distance 0 / weight 1. */
  private val fuzzyTerms = Seq("sprak", "tabel", "query")
}
