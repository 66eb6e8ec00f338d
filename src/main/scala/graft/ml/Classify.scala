package graft.ml

import graft.QuerySpec
import graft.plans.Lineage.CheckpointOps
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{CountVectorizer, HashingTF, StopWordsRemover, StringIndexer, Tokenizer}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-classification pipeline + model selection + metrics
  * (ref: StandaloneScala/AirlineSentimentAnalysis.scala — pipeline stages
  * :43-67, param grid + 2-fold CV :72-85, MulticlassMetrics :100-136).
  *
  * Same spark.ml stage chain as the reference (Tokenizer →
  * StopWordsRemover → HashingTF → StringIndexer → LogisticRegression in
  * a Pipeline; SURVEY §2.8 M3-M8, unchanged — mllib is available), with
  * two engine-grade changes:
  *  - metrics are DataFrame-native (confusion matrix =
  *    groupBy(label, prediction).count + joins) instead of the RDD-based
  *    MulticlassMetrics (ref :100) — stays in Catalyst, scales, and the
  *    same frame doubles as the registered query output;
  *  - the default grid is small (SURVEY §7: the reference's 36-combo ×
  *    2-fold = 72 fits dominates its runtime; grid size is a caller knob).
  *
  * Demo task: predict `documents.lang` from `text` (the only labeled
  * text in the testdata). Train/test split on doc_id parity —
  * deterministic, no RNG.
  */
object Classify {
  /** Reference stage chain (ref :43-67), label column → `label`,
    * text column → tokens → filtered → TF vector `features`. */
  def pipeline(numFeatures: Int = 1024, maxIter: Int = 20): Pipeline = {
    val tok = new Tokenizer().setInputCol("text").setOutputCol("tokens")
    val stop = new StopWordsRemover().setInputCol("tokens").setOutputCol("filtered")
    val tf = new HashingTF().setInputCol("filtered").setOutputCol("features")
      .setNumFeatures(numFeatures)
    val idx = new StringIndexer().setInputCol("lang").setOutputCol("label")
      .setStringOrderType("alphabetAsc") // deterministic label ids
    val lr = new LogisticRegression().setMaxIter(maxIter)
    new Pipeline().setStages(Array(tok, stop, tf, idx, lr))
  }

  /** HashingTF-free variant: CountVectorizer builds an explicit vocabulary
    * (top `vocabSize` terms by corpus frequency) instead of hashing — no
    * feature collisions, inspectable vocab, at the cost of one extra
    * aggregation pass over the corpus during fit. The engine surfaces both
    * because at 100 TB the hashing trick needs no vocab broadcast while
    * CountVectorizer gives exact term→index mapping for model debugging. */
  def pipelineCountVectorizer(vocabSize: Int = 1024, maxIter: Int = 20): Pipeline = {
    val tok = new Tokenizer().setInputCol("text").setOutputCol("tokens")
    val stop = new StopWordsRemover().setInputCol("tokens").setOutputCol("filtered")
    val cv = new CountVectorizer().setInputCol("filtered").setOutputCol("features")
      .setVocabSize(vocabSize).setMinDF(2)
    val idx = new StringIndexer().setInputCol("lang").setOutputCol("label")
      .setStringOrderType("alphabetAsc")
    val lr = new LogisticRegression().setMaxIter(maxIter)
    new Pipeline().setStages(Array(tok, stop, cv, idx, lr))
  }

  /** 2-fold cross-validation over the reference-shaped grid (ref :72-85:
    * maxIter{5,10,20} × elasticNet{.1,.01} × regParam{.1,.01} ×
    * numFeatures{10,100,1000} = 36 combos). All FOUR axes are kept —
    * dropping an axis changes which model family selection can pick —
    * each scaled to 2 values by default (16 combos, 32 fold-fits) so
    * grid search stays the dominant-but-bounded compute it is in the
    * reference. `fullGrid = true` opts in to the reference's EXACT
    * 36-combo grid (VERDICT r9 #5) — same axes, its values verbatim —
    * for fidelity runs; the memo key derives from the validator's own
    * params ([[cvFitKey]] renders the grid), so the two variants never
    * collide in the per-session fit cache. Split from the fit so
    * [[scoreAndPersistCv]] can derive its memo key from the validator's
    * own params. */
  def buildCrossValidator(fullGrid: Boolean = false): CrossValidator = {
    val pipe = pipeline()
    val lr = pipe.getStages.last.asInstanceOf[LogisticRegression]
    val tf = pipe.getStages(2).asInstanceOf[HashingTF]
    val grid =
      if (fullGrid) new ParamGridBuilder() // ref :72-85 verbatim
        .addGrid(lr.regParam, Array(0.1, 0.01))
        .addGrid(lr.elasticNetParam, Array(0.1, 0.01))
        .addGrid(lr.maxIter, Array(5, 10, 20))
        .addGrid(tf.numFeatures, Array(10, 100, 1000))
        .build()
      else new ParamGridBuilder()
        .addGrid(lr.regParam, Array(0.1, 0.01))
        .addGrid(lr.elasticNetParam, Array(0.1, 0.01))
        .addGrid(lr.maxIter, Array(5, 20))
        .addGrid(tf.numFeatures, Array(256, 1024))
        .build()
    new CrossValidator()
      .setEstimator(pipe)
      .setEvaluator(new MulticlassClassificationEvaluator().setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(2)
      // parallel model fits share the cluster like any concurrent jobs;
      // parallelism affects wall-time only, never results (fixed seed,
      // fixed folds), so it is deliberately NOT part of cvFitKey.
      // 8 concurrent fits (round 11; was 4): the grid's models are
      // small, so local[32] absorbs them — cold m9 fit measured
      // 9.7 → ~7.8 s; raise further only with executor-memory headroom
      .setParallelism(8)
      .setSeed(42L)
  }

  def crossValidate(train: DataFrame, fullGrid: Boolean = false): CrossValidatorModel =
    buildCrossValidator(fullGrid).fit(train)

  /** Deterministic parity split: even doc_id → train, odd → test. */
  def split(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))

  /** DataFrame-native confusion matrix (ref :100-110 semantics). */
  def confusionMatrix(scored: DataFrame): DataFrame =
    scored.groupBy(col("label"), col("prediction"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "prediction")

  /** Per-label tp / n_true / n_pred / total counts, unrounded — the shared
    * core of [[metrics]] and [[weightedMetrics]]. Labels are the distinct
    * TRUE labels (MulticlassMetrics convention: a prediction value never
    * occurring as a true label gets no row). */
  private def labelStats(scored: DataFrame): DataFrame = {
    val cm = scored.groupBy("label", "prediction").agg(count(lit(1)).as("n"))
    val byLabel = cm.groupBy("label").agg(sum("n").as("n_true"))
    val byPred = cm.groupBy("prediction").agg(sum("n").as("n_pred"))
    val tp = cm.filter(col("label") === col("prediction"))
      .select(col("label"), col("n").as("tp"))
    val total = cm.agg(sum("n").as("total"))
    byLabel.join(tp, Seq("label"), "left_outer")
      .join(byPred, byLabel("label") === byPred("prediction"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("total"))
  }

  /** Per-label precision/recall/FPR/F1, all relational (ref :113-136
    * semantics without the RDD hop; FPR(l) = fp / (total − n_true(l)),
    * the MulticlassMetrics.falsePositiveRate definition). Zero-denominator
    * precision is 0.0 (not NaN) so the frame stays oracle-comparable.
    *
    * Each ratio is quantized to DECIMAL(32,16) BEFORE the 6-dp round
    * (same as [[weightedMetrics]]): Spark's round(double) goes through the
    * shortest-decimal-string HALF_UP path while DuckDB rounds the binary
    * value, so a ratio landing near a half-ulp boundary can round apart —
    * rounding the quantized decimal is exact arithmetic in both engines.
    *
    * The OUTPUT type is DECIMAL(18,6), not DOUBLE (VERDICT r4): the
    * rounded 6-dp value is exactly representable as a decimal, so both
    * engines emit identical bytes by construction — a trailing
    * DECIMAL→DOUBLE cast re-introduces engine-specific bit patterns below
    * 10 significant digits that the driver's hasher sees even when the
    * printed values agree. F1 is computed from the already-quantized
    * precision/recall via an explicit DOUBLE hop (IEEE arithmetic is
    * engine-independent; decimal division scale rules are not). */
  def metrics(scored: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(32, 16)
    val Out = org.apache.spark.sql.types.DecimalType(18, 6)
    def q6(c: Column): Column = round(c.cast(Dec), 6).cast(Out)
    labelStats(scored)
      .withColumn("precision",
        q6(when(col("n_pred") === 0, lit(0.0))
          .otherwise(col("tp") / col("n_pred"))))
      .withColumn("recall", q6(col("tp") / col("n_true")))
      // zero-denominator guards (ANSI mode): single-label data → fpr 0,
      // tp = 0 → precision = recall = 0 → f1 defined as 0 (MLlib: NaN)
      .withColumn("fpr",
        q6(when(col("total") === col("n_true"), lit(0.0))
          .otherwise((col("n_pred") - col("tp")) / (col("total") - col("n_true")))))
      .withColumn("f1",
        q6(when(col("precision") + col("recall") === lit(0).cast(Out), lit(0.0))
          .otherwise(lit(2) * col("precision").cast("double") * col("recall").cast("double") /
            (col("precision").cast("double") + col("recall").cast("double")))))
      .select("label", "tp", "n_true", "n_pred", "precision", "recall", "fpr", "f1")
      .orderBy("label")
  }

  /** Overall accuracy + label-frequency-weighted precision/recall/F1/FPR
    * (ref :109,131-136: `metrics.accuracy`, `weightedPrecision`,
    * `weightedRecall`, `weightedFMeasure`, `weightedFalsePositiveRate`).
    * One output row. Per-label terms are quantized to DECIMAL before the
    * final sum so the result is fold-order-independent (cross-engine
    * determinism, same trick as the similarity kernels). */
  def weightedMetrics(scored: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(32, 16)
    val Out = org.apache.spark.sql.types.DecimalType(18, 6)
    val s = labelStats(scored)
      .withColumn("p", when(col("n_pred") === 0, lit(0.0))
        .otherwise(col("tp") / col("n_pred")))
      .withColumn("r", col("tp") / col("n_true"))
      .withColumn("fp_rate", when(col("total") === col("n_true"), lit(0.0))
        .otherwise((col("n_pred") - col("tp")) / (col("total") - col("n_true"))))
      .withColumn("f1", when(col("p") + col("r") === 0, lit(0.0))
        .otherwise(lit(2) * col("p") * col("r") / (col("p") + col("r"))))
    // weighted sums: per-label double terms quantized to DECIMAL(32,16),
    // summed exactly, rounded exactly, emitted as DECIMAL(18,6) — the
    // whole tail after the per-term quantize is exact arithmetic, so the
    // hashed bytes cannot diverge across engines (VERDICT r4: no DOUBLE
    // in the hashed output)
    def wsum(c: Column): Column =
      round(sum((col("n_true") * c / col("total")).cast(Dec)), 6).cast(Out)
    s.agg(
      round((sum(col("tp")).cast("double") / first("total")).cast(Dec), 6)
        .cast(Out).as("accuracy"),
      wsum(col("p")).as("weighted_precision"),
      wsum(col("r")).as("weighted_recall"),
      wsum(col("f1")).as("weighted_f1"),
      wsum(col("fp_rate")).as("weighted_fpr"))
  }

  /** Train on even ids, score odd ids, return the confusion matrix.
    * Deterministic: fixed seed, fixed split, alphabetic label indexing. */
  def trainAndConfusion(spark: SparkSession, dir: String): DataFrame = {
    val (train, test) = split(Tables.documents(spark, dir))
    val model: PipelineModel = pipeline().fit(train)
    confusionMatrix(model.transform(test))
  }

  private def scoredPath(tag: String): String =
    graft.sources.Artifacts.path(s"${tag}_scored")

  /** Fit on the train split, score the test split, persist (doc_id,
    * label, prediction) to parquet, and return the read-back frame — so
    * everything DOWNSTREAM of the fit (confusion matrix, per-label and
    * weighted metrics) is computed from a file DuckDB can also read: the
    * metrics math gets a real hash-check even though the model fit itself
    * is not SQL-expressible (pattern: t3_tfidf_persisted). Each query tag
    * writes its own path so queries stay order-independent.
    *
    * The scored frame is memoized per (session, sf-dir, pipeline
    * signature): the confusion/per-label/weighted metric queries all
    * consume the SAME model's predictions, so the engine fits it once per
    * session and each query only re-persists its own copy (cheap — the
    * frame is test-split sized). The memo key is DERIVED from the
    * pipeline's stage classes + params ([[fitKey]]) — two structurally
    * different pipelines can never alias one fit, with no manual key to
    * forget. */
  def scoreAndPersist(spark: SparkSession, dir: String, tag: String,
                      pipe: Pipeline = pipeline()): DataFrame = {
    val scored = graft.plans.Materialized(
      spark, s"ml_scored:${fitKey(pipe)}:${Tables.norm(dir)}") {
      val (train, test) = split(Tables.documents(spark, dir))
      val model: PipelineModel = pipe.fit(train)
      model.transform(test)
        .select(col("doc_id"), col("label"), col("prediction"))
    }
    scored.write.mode("overwrite").parquet(scoredPath(tag))
    spark.read.parquet(scoredPath(tag))
  }

  /** CV variant of [[scoreAndPersist]]: fit the full grid search on the
    * train split, score the test split with the BEST model, persist, read
    * back (ref AirlineSentimentAnalysis.scala:72-98 — grid fit, then
    * `bestModel.transform(testing)`). Like every persisted-fit query, the
    * oracle recomputes the downstream metrics from the persisted
    * predictions, so the grid search itself — which is not
    * SQL-expressible — never needs a DuckDB twin. The memo key is derived
    * from the validator's estimator signature + grid + folds + seed
    * ([[cvFitKey]]), so the 16-combo grid runs once per session even
    * though multiple queries could consume it. */
  def scoreAndPersistCv(spark: SparkSession, dir: String, tag: String): DataFrame = {
    val cv = buildCrossValidator()
    val scored = graft.plans.Materialized(
      spark, s"ml_scored:${cvFitKey(cv)}:${Tables.norm(dir)}") {
      val (train, test) = split(Tables.documents(spark, dir))
      cv.fit(train).transform(test) // CrossValidatorModel.transform = bestModel.transform
        .select(col("doc_id"), col("label"), col("prediction"))
    }
    scored.write.mode("overwrite").parquet(scoredPath(tag))
    spark.read.parquet(scoredPath(tag))
  }

  /** Derived (never manual — see [[fitKey]]) signature for a
    * CrossValidator: estimator pipeline signature + each grid point's
    * param name=value pairs + folds + seed. Param names alone (not uids,
    * which are random per construction) keep the key stable across
    * rebuilt instances. */
  private[ml] def cvFitKey(cv: CrossValidator): String = {
    val grid = cv.getEstimatorParamMaps
      .map(_.toSeq.map(p => s"${p.param.name}=${renderParamValue(p.value)}")
        .sorted.mkString(","))
      .sorted.mkString("|")
    s"CV(folds=${cv.getNumFolds},seed=${cv.getSeed}," +
      s"est=${fitKey(cv.getEstimator.asInstanceOf[Pipeline])},grid=$grid)"
  }

  /** Structural pipeline signature: stage classes + their explicit param
    * values, uid-free (uids are random per construction and would defeat
    * memoization; param VALUES are what distinguish two fits).
    *
    * Collection-valued params (e.g. StopWordsRemover.stopWords) are
    * rendered element-wise: Array.toString is an identity-hash string
    * unique per instance, which would silently give every fresh Pipeline
    * a distinct key and defeat the fit-once-per-session memo (ADVICE r2).
    */
  private[ml] def renderParamValue(v: Any): String = v match {
    case a: Array[_] => a.map(renderParamValue).mkString("[", ";", "]")
    case s: Iterable[_] => s.map(renderParamValue).mkString("[", ";", "]")
    case other => String.valueOf(other)
  }

  private[ml] def fitKey(pipe: Pipeline): String =
    pipe.getStages.map { s =>
      val params = s.extractParamMap().toSeq
        .map(p => s"${p.param.name}=${renderParamValue(p.value)}")
        .sorted.mkString(",")
      s"${s.getClass.getSimpleName}($params)"
    }.mkString("|")

  def confusionSql(tag: String): String =
    s"""SELECT label, prediction, count(*) AS n
       |FROM '${scoredPath(tag)}/*.parquet'
       |GROUP BY label, prediction ORDER BY label, prediction""".stripMargin

  private def labelStatsSql(tag: String): String =
    s"""s AS (SELECT * FROM '${scoredPath(tag)}/*.parquet'),
       |cm AS (SELECT label, prediction, count(*) AS n FROM s GROUP BY 1, 2),
       |bylabel AS (SELECT label, SUM(n) AS n_true FROM cm GROUP BY 1),
       |bypred AS (SELECT prediction, SUM(n) AS n_pred FROM cm GROUP BY 1),
       |tp AS (SELECT label, n AS tp FROM cm WHERE label = prediction),
       |tot AS (SELECT SUM(n) AS total FROM cm),
       |stats AS (
       |  SELECT l.label, CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp,
       |         CAST(l.n_true AS BIGINT) AS n_true,
       |         CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred,
       |         CAST(t.total AS BIGINT) AS total
       |  FROM bylabel l LEFT JOIN tp USING (label)
       |  LEFT JOIN bypred p ON l.label = p.prediction CROSS JOIN tot t)""".stripMargin
  // ^ the BIGINT casts above ended m3's three-round hash curse: SUM(n)
  // is HUGEINT in DuckDB, which the driver's .df() load renders as
  // float64 ("22.0") while Spark's long renders "22" — value-exact,
  // byte-different. Misdiagnosed as double-bit-pattern drift in r3-r5;
  // the round-6 driver-faithful gate (tools/check_local.py) showed the
  // diff was on the COUNT columns, not the ratios.

  // round(quantize-to-DECIMAL(32,16)) emitted as DECIMAL(18,6) — see
  // [[metrics]]: exact decimal rounding agrees across engines where
  // round(double) need not, and the decimal OUTPUT type keeps
  // engine-specific double bit patterns out of the driver's hash. The
  // CASE sits INSIDE the wrapper so the zero branch is also quantized —
  // a bare `0.0 ELSE decimal` would promote the whole CASE back to DOUBLE.
  private def q6Sql(x: String): String =
    s"CAST(round(CAST($x AS DECIMAL(32,16)), 6) AS DECIMAL(18,6))"

  def labelMetricsSql(tag: String): String =
    s"""WITH ${labelStatsSql(tag)},
       |d AS (
       |  SELECT label, tp, n_true, n_pred,
       |    ${q6Sql("CASE WHEN n_pred = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / n_pred END")} AS precision,
       |    ${q6Sql("CAST(tp AS DOUBLE) / n_true")} AS recall,
       |    ${q6Sql("CASE WHEN total = n_true THEN 0.0 ELSE CAST(n_pred - tp AS DOUBLE) / (total - n_true) END")} AS fpr
       |  FROM stats)
       |SELECT label, tp, n_true, n_pred, precision, recall, fpr,
       |  ${q6Sql("CASE WHEN precision + recall = 0 THEN 0.0 ELSE 2 * CAST(precision AS DOUBLE) * CAST(recall AS DOUBLE) / (CAST(precision AS DOUBLE) + CAST(recall AS DOUBLE)) END")} AS f1
       |FROM d ORDER BY label""".stripMargin

  def weightedMetricsSql(tag: String): String =
    s"""WITH ${labelStatsSql(tag)},
       |d AS (
       |  SELECT *,
       |    CASE WHEN n_pred = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / n_pred END AS p,
       |    CAST(tp AS DOUBLE) / n_true AS r,
       |    CASE WHEN total = n_true THEN 0.0
       |      ELSE CAST(n_pred - tp AS DOUBLE) / (total - n_true) END AS fp_rate
       |  FROM stats),
       |d2 AS (
       |  SELECT *, CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END AS f1
       |  FROM d)
       |SELECT
       |  ${q6Sql("CAST(SUM(tp) AS DOUBLE) / ANY_VALUE(total)")} AS accuracy,
       |  CAST(round(SUM(CAST(n_true * p / total AS DECIMAL(32,16))), 6) AS DECIMAL(18,6)) AS weighted_precision,
       |  CAST(round(SUM(CAST(n_true * r / total AS DECIMAL(32,16))), 6) AS DECIMAL(18,6)) AS weighted_recall,
       |  CAST(round(SUM(CAST(n_true * f1 / total AS DECIMAL(32,16))), 6) AS DECIMAL(18,6)) AS weighted_f1,
       |  CAST(round(SUM(CAST(n_true * fp_rate / total AS DECIMAL(32,16))), 6) AS DECIMAL(18,6)) AS weighted_fpr
       |FROM d2""".stripMargin

  // ------------------------------------------------- native naive Bayes

  /** m10: multinomial naive Bayes as pure DataFrame aggregates — train
    * on the md5-hash train split (the x6 rule: bucket < 204), predict
    * the eval docs' language. Unlike the spark.ml pipelines above
    * (persisted-fit oracle — DuckDB re-aggregates predictions it cannot
    * reproduce), EVERY step here — priors, Laplace-smoothed token
    * likelihoods, per-doc argmax — is re-derived independently by the
    * oracle; the model "fit" IS a pair of aggregates.
    *
    * Scale shape: training is one shuffle on (lang, word) with map-side
    * combine (the likelihood table is vocab×langs ≪ corpus); scoring
    * joins eval (doc, word, c) counts to the likelihood table on word —
    * an AQE-splittable equi-join — then one (doc, lang) aggregate and a
    * per-doc rank window. The langs frame and the unseen-word default
    * are tiny broadcasts. No driver collect anywhere.
    *
    * Cross-engine exactness: every ln() output is rounded to 6 dp into
    * DECIMAL(18,6) at birth (the libm rule); scores are then exact
    * decimal sums, so argmax compares identical bytes — ties break to
    * the lexicographically smallest language on both engines. */
  def naiveBayesLang(docs: DataFrame): DataFrame = {
    val Out6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val isTrain = graft.text.TextStats.hashBucket(col("doc_id")) < 204
    val toks = docs.select(col("doc_id"), col("lang"), isTrain.as("tr"),
        explode(graft.text.Tokenize.rawTokens(col("text"))).as("word"))
      .loopCheckpoint(true)

    // ---- fit (aggregates over the train split)
    val train = toks.filter(col("tr"))
    val priors = train.select("doc_id", "lang").distinct()
      .groupBy(col("lang").as("l")).agg(count(lit(1)).as("nd"))
    val nTrainDocs = priors.agg(sum("nd").as("ndocs"))
    val logPrior = priors.crossJoin(broadcast(nTrainDocs))
      .select(col("l"),
        round(log(col("nd").cast("double") / col("ndocs")), 6)
          .cast(Out6).as("lprior"))
    val counts = train.groupBy(col("lang").as("l"), col("word"))
      .agg(count(lit(1)).as("c"))
      .loopCheckpoint(true)
    val vocab = counts.agg(countDistinct("word").cast("long").as("v"))
    val langTotals = counts.groupBy("l").agg(sum("c").cast("long").as("t"))
      .crossJoin(broadcast(vocab))
    // per-lang Laplace default for words unseen in that language
    val defaults = langTotals.select(col("l"),
      round(log(lit(1.0) / (col("t") + col("v"))), 6).cast(Out6).as("ldefault"))
    val loglik = counts.join(langTotals, "l")
      .select(col("l"), col("word"),
        round(log((col("c") + 1).cast("double") / (col("t") + col("v"))), 6)
          .cast(Out6).as("llik"))

    // ---- predict (eval split)
    val evalCounts = toks.filter(!col("tr"))
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("c"))
    val langs = defaults.join(logPrior, "l") // one row per language
    val scored = evalCounts
      .crossJoin(broadcast(langs))
      .join(loglik, Seq("l", "word"), "left")
      .select(col("doc_id"), col("lang"), col("l"), col("lprior"),
        (col("c") * coalesce(col("llik"), col("ldefault"))).as("contrib"))
      .groupBy("doc_id", "lang", "l", "lprior")
      .agg(sum("contrib").cast(Out6).as("csum"))
      .select(col("doc_id"), col("lang"), col("l"),
        (col("lprior") + col("csum")).cast(Out6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("l"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("l").as("pred"),
        (col("l") === col("lang")).cast("long").as("correct"))
      .orderBy("doc_id")
  }

  def naiveBayesLangSql: String = {
    val toks = graft.text.Tokenize.rawTokensSql("text")
    val bucket = graft.text.TextStats.hashBucketSqlExpr("doc_id")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, ($bucket) < 204 AS tr, u.word
       |  FROM documents, UNNEST($toks) AS u(word)
       |), priors AS (
       |  SELECT lang AS l, count(DISTINCT doc_id) AS nd FROM toks WHERE tr GROUP BY lang
       |), nt AS (SELECT SUM(nd) AS ndocs FROM priors),
       |logprior AS (
       |  SELECT l, CAST(round(ln(CAST(nd AS DOUBLE) / ndocs), 6) AS DECIMAL(18,6)) AS lprior
       |  FROM priors, nt
       |), counts AS (
       |  SELECT lang AS l, word, count(*) AS c FROM toks WHERE tr GROUP BY lang, word
       |), vocab AS (SELECT count(DISTINCT word) AS v FROM counts),
       |langtot AS (SELECT l, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY l),
       |defaults AS (
       |  SELECT l, CAST(round(ln(1.0 / (t + v)), 6) AS DECIMAL(18,6)) AS ldefault
       |  FROM langtot, vocab
       |), loglik AS (
       |  SELECT c.l, c.word,
       |    CAST(round(ln(CAST(c.c + 1 AS DOUBLE) / (lt.t + v.v)), 6) AS DECIMAL(18,6)) AS llik
       |  FROM counts c JOIN langtot lt USING (l), vocab v
       |), ec AS (
       |  SELECT doc_id, lang, word, count(*) AS c
       |  FROM toks WHERE NOT tr GROUP BY doc_id, lang, word
       |), langs AS (SELECT d.l, d.ldefault, p.lprior FROM defaults d JOIN logprior p USING (l)),
       |scored AS (
       |  SELECT ec.doc_id, ec.lang, lg.l,
       |    CAST(lg.lprior + CAST(SUM(ec.c * COALESCE(ll.llik, lg.ldefault)) AS DECIMAL(18,6))
       |      AS DECIMAL(18,6)) AS score
       |  FROM ec CROSS JOIN langs lg
       |    LEFT JOIN loglik ll ON ll.l = lg.l AND ll.word = ec.word
       |  GROUP BY ec.doc_id, ec.lang, lg.l, lg.lprior
       |), best AS (
       |  SELECT doc_id, lang, l FROM (
       |    SELECT doc_id, lang, l,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l ASC) AS rk
       |    FROM scored) WHERE rk = 1
       |)
       |SELECT doc_id, lang, l AS pred,
       |  CAST(CASE WHEN l = lang THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM best ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- chi² feature selection

  /** m16: chi-squared feature selection — the top-k (language, word)
    * pairs whose document-presence is most dependent on the label, the
    * classic filter step that picks discriminative vocabulary before a
    * classifier fit (pairs with [[naiveBayesLang]]'s count tables).
    *
    * Each pair's 2×2 contingency table (a = docs of lang l containing
    * w, b/c/d the complements) comes from ONE per-doc-distinct token
    * pass: per-doc distinct words via `array_distinct` BEFORE explode
    * (presence counts, not token counts, reach the shuffle), the word
    * marginal by re-aggregating that table, the label marginal from the
    * raw docs. The full |langs|×|vocab| grid is assembled from the two
    * broadcast marginals so absent pairs (a=0, which can still be
    * maximally dependent) score too — the grid is metadata-sized at any
    * corpus scale, and the top-k is orderBy+limit.
    *
    * Cross-engine exactness: a·d−b·c is exact BIGINT arithmetic; the χ²
    * assembly then runs in doubles with the SAME left-associative op
    * order on both engines (each step correctly-rounded IEEE), through
    * the standard round→DECIMAL output cast. Degenerate margins (a word
    * in every document) zero the denominator — guarded to χ²=0 with the
    * CASE inside the decimal cast on both sides. */
  def chi2Features(docs: DataFrame, topK: Int = 20): DataFrame = {
    val Out6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val dw = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(graft.text.Tokenize.rawTokens(col("text")))).as("word"))
      .groupBy(col("lang").as("l"), col("word")).agg(count(lit(1)).as("a"))
      .loopCheckpoint(true) // consumed by the word marginal AND the grid join
    val dfW = dw.groupBy("word").agg(sum("a").cast("long").as("df_w"))
    val perLang = docs.groupBy(col("lang").as("l")).agg(count(lit(1)).as("n_l"))
    val total = perLang.agg(sum("n_l").cast("long").as("n_total"))
    val grid = dfW.crossJoin(broadcast(perLang)).crossJoin(broadcast(total))
      .join(dw, Seq("l", "word"), "left")
      .select(col("l"), col("word"), col("df_w"), col("n_l"), col("n_total"),
        coalesce(col("a"), lit(0L)).as("a"))
    val b = col("df_w") - col("a")
    val c = col("n_l") - col("a")
    val d = col("n_total") - col("n_l") - b
    val delta = (col("a") * d - b * c).cast("double")
    val denom = col("df_w").cast("double") * (col("n_total") - col("df_w")).cast("double") *
      col("n_l").cast("double") * (col("n_total") - col("n_l")).cast("double")
    grid
      .select(col("l").as("lang"), col("word"), col("a").cast("long").as("n_docs"),
        when(denom > 0,
          round(col("n_total").cast("double") * delta * delta / denom, 6))
          .otherwise(lit(0.0)).cast(Out6).as("chi2"))
      .orderBy(desc("chi2"), asc("lang"), asc("word"))
      .limit(topK)
  }

  def chi2FeaturesSql(topK: Int = 20): String = {
    val toks = graft.text.Tokenize.rawTokensSql("text")
    s"""WITH dw AS (
       |  SELECT lang AS l, u.word, count(*) AS a
       |  FROM documents, UNNEST(list_distinct($toks)) AS u(word)
       |  GROUP BY lang, u.word
       |), dfw AS (
       |  SELECT word, CAST(SUM(a) AS BIGINT) AS df_w FROM dw GROUP BY word
       |), perlang AS (
       |  SELECT lang AS l, count(*) AS n_l FROM documents GROUP BY lang
       |), tot AS (SELECT CAST(SUM(n_l) AS BIGINT) AS n_total FROM perlang),
       |grid AS (
       |  SELECT p.l, w.word, w.df_w, p.n_l, t.n_total, COALESCE(dw.a, 0) AS a
       |  FROM dfw w CROSS JOIN perlang p CROSS JOIN tot t
       |    LEFT JOIN dw ON dw.l = p.l AND dw.word = w.word
       |), scored AS (
       |  SELECT l AS lang, word, CAST(a AS BIGINT) AS n_docs,
       |    CAST(CASE WHEN df_w * (n_total - df_w) * n_l * (n_total - n_l) > 0 THEN
       |      round(CAST(n_total AS DOUBLE)
       |        * CAST(a * (n_total - n_l - (df_w - a)) - (df_w - a) * (n_l - a) AS DOUBLE)
       |        * CAST(a * (n_total - n_l - (df_w - a)) - (df_w - a) * (n_l - a) AS DOUBLE)
       |        / (CAST(df_w AS DOUBLE) * CAST(n_total - df_w AS DOUBLE)
       |           * CAST(n_l AS DOUBLE) * CAST(n_total - n_l AS DOUBLE)), 6)
       |    ELSE 0.0 END AS DECIMAL(18,6)) AS chi2
       |  FROM grid
       |)
       |SELECT lang, word, n_docs, chi2 FROM scored
       |ORDER BY chi2 DESC, lang ASC, word ASC LIMIT $topK""".stripMargin
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("m1_confusion", (s, dir) => confusionMatrix(scoreAndPersist(s, dir, "m1")),
      () => confusionSql("m1")),
    QuerySpec("m3_label_metrics", (s, dir) => metrics(scoreAndPersist(s, dir, "m3")),
      () => labelMetricsSql("m3"), Seq("precision", "recall", "fpr", "f1")),
    QuerySpec("m4_weighted_metrics", (s, dir) => weightedMetrics(scoreAndPersist(s, dir, "m4")),
      () => weightedMetricsSql("m4"), Seq("accuracy", "weighted_precision",
        "weighted_recall", "weighted_f1", "weighted_fpr")),
    // the persisted pattern makes the metrics math oracle-checkable even
    // for models with nondeterministic internals: DuckDB re-aggregates the
    // persisted predictions, it never needs to reproduce the fit
    QuerySpec("m5_cv_confusion", (s, dir) =>
      confusionMatrix(scoreAndPersist(s, dir, "m5", pipelineCountVectorizer())),
      () => confusionSql("m5")),
    // grid-search model selection (SURVEY M8, the reference's dominant
    // compute): best of the 16-combo reference-shaped grid → weighted metrics
    QuerySpec("m9_cv_metrics", (s, dir) => weightedMetrics(scoreAndPersistCv(s, dir, "m9")),
      () => weightedMetricsSql("m9"), Seq("accuracy", "weighted_precision",
        "weighted_recall", "weighted_f1", "weighted_fpr")),
    QuerySpec("m10_naive_bayes", (s, dir) => naiveBayesLang(Tables.documents(s, dir)),
      () => naiveBayesLangSql),
    QuerySpec("m16_chi2_features", (s, dir) => chi2Features(Tables.documents(s, dir)),
      () => chi2FeaturesSql(), Seq("chi2")),
  )
}
