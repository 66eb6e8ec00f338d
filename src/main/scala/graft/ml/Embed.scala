package graft.ml

import graft.QuerySpec
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{Tokenizer, Word2Vec}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorDotExact
import graft.sources.Tables

/** Learned text embeddings: a Word2Vec pipeline over `documents` plus
  * cosine retrieval on the resulting document vectors (SURVEY §2.8
  * family — the reference's spark.ml surface extended with the embedding
  * stage an LLM-data pipeline needs; ref pipeline shape
  * StandaloneScala/AirlineSentimentAnalysis.scala:43-67).
  *
  * Word2Vec averages trained word vectors per document (spark.ml
  * semantics), giving each doc a dense vector WITHOUT a labeled corpus —
  * the unsupervised complement to [[Classify]].
  *
  * Oracle strategy (persisted-fit, pattern: t3_tfidf_persisted /
  * s4_ann_ivf): the fit is not SQL-expressible, but its OUTPUT is a fact
  * once written — doc vectors land in parquet, the query re-ranks from
  * the file, and DuckDB recomputes the entire cosine top-k from the same
  * file. The dot products go through the decimal-quantized kernel
  * ([[VectorDotExact]]) so both engines sum exactly.
  *
  * Scale: fit cost is one vocab aggregate + iterations over token
  * windows; at corpus scale the fit would train on a deterministic
  * hash-bucket sample (same posture as the IVF quantizer) while
  * TRANSFORM still covers every document. Retrieval is per-row dot
  * products against one broadcast query vector — zero wide shuffles.
  */
object Embed {
  private val Dims = 16

  private def embPath(tag: String): String =
    graft.sources.Artifacts.path(s"${tag}_emb")

  /** One Word2Vec pipeline fit per (tag, sf-dir) per session — the
    * Materialized discipline (ADVICE r11: the un-memoized form re-paid a
    * full refit + artifact rewrite on every invocation, e.g. each bench
    * rep). The fitted model is shared by the doc-vector and word-vector
    * persists below. */
  private def fitW2v(spark: SparkSession, dir: String) = {
    val docs = Tables.documents(spark, dir)
    val tok = new Tokenizer().setInputCol("text").setOutputCol("tokens")
    val w2v = new Word2Vec().setInputCol("tokens").setOutputCol("w2v")
      .setVectorSize(Dims).setMinCount(2).setMaxIter(1).setSeed(42L)
    (docs, new Pipeline().setStages(Array(tok, w2v)).fit(docs))
  }

  /** Tokenizer → Word2Vec document vectors, persisted to parquet and read
    * back (doc_id, emb: array<double>). Fit + write run once per
    * (session, tag, sf-dir) via [[graft.plans.Materialized]]. */
  def word2vecPersist(spark: SparkSession, dir: String, tag: String): DataFrame =
    graft.plans.Materialized(spark, s"w2v_doc:$tag:${Tables.norm(dir)}") {
      val (docs, model) = fitW2v(spark, dir)
      model.transform(docs)
        .select(col("doc_id"), vector_to_array(col("w2v")).as("emb"))
        .write.mode("overwrite").parquet(embPath(tag))
      Tables.parquet(spark, embPath(tag))
    }

  /** Cosine top-k over the persisted doc vectors: broadcast the one query
    * row, per-row exact dot, TakeOrdered. Zero-vector docs (all tokens
    * below minCount) are excluded on both engines — cosine is undefined
    * for them. */
  def w2vKnn(emb: DataFrame, queryId: Long, k: Int = 10): DataFrame = {
    def norm2(c: org.apache.spark.sql.Column) = VectorDotExact(c, c)
    val q = emb.filter(col("doc_id") === queryId)
      .select(col("emb").as("qe"), norm2(col("emb")).as("qnorm2"))
      .filter(col("qnorm2") > 0)
    emb.filter(col("doc_id") =!= queryId)
      .withColumn("norm2", norm2(col("emb")))
      .filter(col("norm2") > 0)
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        round(VectorDotExact(col("emb"), col("qe")) /
          (sqrt(col("norm2")) * sqrt(col("qnorm2"))), 6)
          // DECIMAL(18,6) output: exact bytes on both engines, no
          // double bit-pattern hash risk (VERDICT r4, the m3 class)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("cos"))
      .orderBy(desc("cos"), asc("doc_id"))
      .limit(k)
  }

  /** DuckDB re-rank over the SAME persisted vectors. */
  def w2vKnnSql(tag: String, queryId: Long, k: Int = 10): String =
    s"""WITH ex AS (
       |  SELECT doc_id, u.d, emb[u.d + 1] AS x
       |  FROM '${embPath(tag)}/*.parquet', UNNEST(range($Dims)) AS u(d)
       |), norms AS (
       |  SELECT doc_id, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS norm2
       |  FROM ex GROUP BY doc_id
       |), q AS (SELECT d, x AS qx FROM ex WHERE doc_id = $queryId),
       |qn AS (SELECT norm2 AS qnorm2 FROM norms WHERE doc_id = $queryId AND norm2 > 0),
       |dots AS (
       |  SELECT ex.doc_id, CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN q USING (d) WHERE ex.doc_id != $queryId GROUP BY ex.doc_id
       |)
       |SELECT d.doc_id, CAST(round(d.dot / (sqrt(n.norm2) * sqrt(qn.qnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |FROM dots d JOIN norms n USING (doc_id) CROSS JOIN qn
       |WHERE n.norm2 > 0
       |ORDER BY cos DESC, doc_id ASC LIMIT $k""".stripMargin

  private def wordsPath(tag: String): String =
    graft.sources.Artifacts.path(s"${tag}_words")

  /** The same Word2Vec fit's WORD vectors (word, emb: array<double>),
    * persisted — the vocabulary-sized artifact analogy/probe evaluation
    * reads (the doc vectors above are its corpus-sized sibling). Fit +
    * write run once per (session, tag, sf-dir) via
    * [[graft.plans.Materialized]] (ADVICE r11). */
  def wordVectorsPersist(spark: SparkSession, dir: String, tag: String): DataFrame =
    graft.plans.Materialized(spark, s"w2v_words:$tag:${Tables.norm(dir)}") {
      val (_, model) = fitW2v(spark, dir)
      model.stages(1).asInstanceOf[org.apache.spark.ml.feature.Word2VecModel]
        .getVectors
        .select(col("word"), vector_to_array(col("vector")).as("emb"))
        .write.mode("overwrite").parquet(wordsPath(tag))
      Tables.parquet(spark, wordsPath(tag))
    }

  /** m28: word-analogy probes — the intrinsic embedding-quality check
    * ("a is to b as c is to ?"): target = v(b) − v(a) + v(c), answer =
    * the cosine-nearest vocabulary word excluding the probe words
    * themselves (the standard 3CosAdd protocol, Mikolov et al.). On the
    * synthetic corpus the PREDICTIONS are not meaningful English — the
    * operator under test is the exact pipeline (vector arithmetic,
    * cosine ranking, probe-word exclusion, deterministic tie-break), and
    * the oracle recomputes all of it from the same persisted vectors.
    *
    * Scale shape: vectors are a VOCABULARY-sized table (Heaps-bounded);
    * probes are a literal broadcast; the rank pass is |probes| passes
    * over the vocab — never corpus-touching. */
  def analogies(vecs: DataFrame,
                probes: Seq[(String, String, String)]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val p = probes.toDF("a", "b", "c")
    val v = vecs.select(col("word"), col("emb"))
    val tgt = p
      .join(v.select(col("word").as("a"), col("emb").as("va")), "a")
      .join(v.select(col("word").as("b"), col("emb").as("vb")), "b")
      .join(v.select(col("word").as("c"), col("emb").as("vc")), "c")
      .select(col("a"), col("b"), col("c"),
        zip_with(zip_with(col("vb"), col("va"), (x, y) => x - y), col("vc"),
          (x, y) => x + y).as("tv"))
      .withColumn("tnorm2", VectorDotExact(col("tv"), col("tv")))
      .filter(col("tnorm2") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a", "b", "c").orderBy(desc("cos"), asc("word"))
    v.withColumn("wnorm2", VectorDotExact(col("emb"), col("emb")))
      .filter(col("wnorm2") > 0)
      .crossJoin(broadcast(tgt))
      .filter(col("word") =!= col("a") && col("word") =!= col("b") &&
        col("word") =!= col("c"))
      .select(col("a"), col("b"), col("c"), col("word"),
        round(VectorDotExact(col("emb"), col("tv")) /
          (sqrt(col("wnorm2")) * sqrt(col("tnorm2"))), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("a"), col("b"), col("c"), col("word").as("predicted"), col("cos"))
      .orderBy("a", "b", "c")
  }

  /** DuckDB re-rank of the SAME persisted word vectors. */
  def analogiesSql(tag: String, probes: Seq[(String, String, String)]): String = {
    val vals = probes.map { case (a, b, c) => s"('$a', '$b', '$c')" }.mkString(", ")
    s"""WITH ex AS (
       |  SELECT word, u.d, emb[u.d + 1] AS x
       |  FROM '${wordsPath(tag)}/*.parquet', UNNEST(range($Dims)) AS u(d)
       |), probes(a, b, c) AS (VALUES $vals),
       |tgt AS (
       |  SELECT p.a, p.b, p.c, ea.d, eb.x - ea.x + ec.x AS tx
       |  FROM probes p
       |  JOIN ex ea ON ea.word = p.a
       |  JOIN ex eb ON eb.word = p.b AND eb.d = ea.d
       |  JOIN ex ec ON ec.word = p.c AND ec.d = ea.d
       |), tn AS (
       |  SELECT a, b, c, CAST(SUM(CAST(tx * tx AS DECIMAL(32,16))) AS DOUBLE) AS tnorm2
       |  FROM tgt GROUP BY 1, 2, 3
       |), wn AS (
       |  SELECT word, CAST(SUM(CAST(x * x AS DECIMAL(32,16))) AS DOUBLE) AS wnorm2
       |  FROM ex GROUP BY word
       |), dots AS (
       |  SELECT t.a, t.b, t.c, ex.word,
       |    CAST(SUM(CAST(ex.x * t.tx AS DECIMAL(32,16))) AS DOUBLE) AS dot
       |  FROM ex JOIN tgt t USING (d)
       |  WHERE ex.word != t.a AND ex.word != t.b AND ex.word != t.c
       |  GROUP BY 1, 2, 3, 4
       |), scored AS (
       |  SELECT d.a, d.b, d.c, d.word,
       |    CAST(round(d.dot / (sqrt(w.wnorm2) * sqrt(t.tnorm2)), 6) AS DECIMAL(18,6)) AS cos
       |  FROM dots d JOIN wn w USING (word) JOIN tn t USING (a, b, c)
       |  WHERE w.wnorm2 > 0 AND t.tnorm2 > 0
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY a, b, c
       |    ORDER BY cos DESC, word ASC) AS rk
       |  FROM scored
       |)
       |SELECT a, b, c, word AS predicted, cos FROM ranked WHERE rk = 1
       |ORDER BY a, b, c""".stripMargin
  }

  /** High-frequency corpus words (every SF) so all probes resolve. */
  private val analogyProbes = Seq(
    ("scan", "column", "window"), ("order", "sort", "part"),
    ("join", "merge", "key"))

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("m8_w2v_knn", (s, dir) => w2vKnn(word2vecPersist(s, dir, "m8"), queryId = 0L),
      () => w2vKnnSql("m8", 0L), Seq("cos")),
    QuerySpec("m28_w2v_analogy", (s, dir) =>
      analogies(wordVectorsPersist(s, dir, "m28"), analogyProbes),
      () => analogiesSql("m28", analogyProbes), Seq("cos")),
  )
}
