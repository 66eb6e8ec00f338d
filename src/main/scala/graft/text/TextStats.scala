package graft.text

import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.Lineage.CheckpointOps
import graft.sources.Tables

/** Text-analysis operators for large-scale corpus curation: heuristic
  * entity extraction, language identification, quality scoring, token
  * counting, and document fingerprinting.
  *
  * Entity extraction reproduces the reference's NER word-count semantics
  * (ref: ScalaNotebooks/NamedEntitiesWordCount.scala — extract entities
  * :35-43, normalize :51-58, count :63-74, sort :77) with a
  * capitalized-run heuristic instead of the pretrained DL model (SURVEY
  * §2.8 M2: no pretrained models offline). The rest is the curation
  * surface a 100 TB training-data pipeline needs (builder brief).
  *
  * All operators are single-pass scan expressions (regexp/array
  * built-ins) feeding at most one hash aggregate — no UDFs, no RDD hops,
  * fully whole-stage-codegen'd. Ratios are double divisions of integer
  * counts (IEEE-deterministic); every query has an exact DuckDB oracle.
  */
object TextStats {
  /** Capitalized-run entity pattern: one capitalized word or a run of
    * them ("New York"). Mirrors what recognize_entities_dl returns for
    * the reference's Sherlock corpus at the heuristic level. */
  private val EntityRx = "[A-Z][a-z]+(?: [A-Z][a-z]+)*"

  /** Entities from a text column: extract runs, lowercase-normalize
    * (ref NamedEntitiesWordCount.scala:52 `_.toLowerCase`). */
  def entities(text: Column): Column =
    transform(regexp_extract_all(text, lit(EntityRx), lit(0)), lower _)

  /** Entity word count over a corpus column: extract → explode →
    * groupBy.count → desc (ref NamedEntitiesWordCount.scala:63-77). */
  def entityCount(df: DataFrame, text: Column): DataFrame =
    df.select(explode(entities(text)).as("entity"))
      .groupBy("entity").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("entity"))

  // ------------------------------------------------------------- lang id

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * language heuristic. Fixed so oracle SQL inlines identical lists. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "en", "por"),
  )

  /** How many language profiles contain each word — the calibration
    * weight basis: a word unique to one language is strong evidence
    * (weight 2), a word shared across profiles ("la", "un" live in both
    * fr and es) is weak evidence (weight 1). Integer weights keep the
    * score exact on both engines (ADVICE r4: weighted profiles raise
    * discrimination where shared function words would otherwise swamp
    * unique markers and fall to the arbitrary tie rule). */
  private val wordLangCount: Map[String, Int] =
    langStopwords.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap

  private def uniqueWords(words: Seq[String]): Seq[String] =
    words.filter(wordLangCount(_) == 1)
  private def sharedWords(words: Seq[String]): Seq[String] =
    words.filter(wordLangCount(_) > 1)

  /** Per-language df-weighted stopword scores + argmax language ("und" =
    * undetermined when nothing hits): score = 2·|unique-word hits| +
    * |shared-word hits|. Pure array expressions — two `size(filter(...))`
    * per language in one projection (no shuffle at all until the caller
    * aggregates). */
  def langId(tokens: Column): Column = {
    val scored = langStopwords.map { case (lang, words) =>
      val (uniq, shared) = (uniqueWords(words), sharedWords(words))
      val score = size(filter(tokens, t => t.isin(uniq: _*))) * 2 +
        (if (shared.nonEmpty) size(filter(tokens, t => t.isin(shared: _*)))
         else lit(0))
      struct(score.as("score"), lit(lang).as("lang"))
    }
    // argmax by fieldwise-descending struct sort: highest score wins, ties
    // break to the lexicographically-largest lang (same rule as the
    // DuckDB oracle's list_reverse_sort — deterministic on both sides)
    val best = sort_array(array(scored: _*), asc = false).getItem(0)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  private def langIdSqlExpr(toks: String): String = {
    val structs = langStopwords.map { case (lang, words) =>
      val uq = uniqueWords(words).map(w => s"'$w'").mkString(", ")
      val sh = sharedWords(words).map(w => s"'$w'").mkString(", ")
      val score = s"2 * len(list_filter($toks, t -> t IN ($uq)))" +
        (if (sh.nonEmpty) s" + len(list_filter($toks, t -> t IN ($sh)))" else "")
      s"{'score': $score, 'lang': '$lang'}"
    }.mkString(", ")
    s"CASE WHEN list_reverse_sort([$structs])[1].score > 0 THEN list_reverse_sort([$structs])[1].lang ELSE 'und' END"
  }

  // ------------------------------------------------------- quality score

  /** Document quality heuristics: lengths, ratios, mean token length.
    * The composite score is a fixed linear blend — arbitrary but stable,
    * the shape a quality-filter stage needs at scale. */
  def qualityCols(text: Column): Seq[Column] =
    qualityCols(text, Tokenize.rawTokens(text))

  /** [[qualityCols]] with the token array supplied by the caller — the
    * [[docsTok]] sources pass their memoized column; values identical. */
  def qualityCols(text: Column, raw: Column): Seq[Column] = {
    val nTok = size(raw)
    val nStop = size(filter(raw, t => t.isin(Tokenize.stopwords: _*)))
    val nChars = length(text)
    val nPunct = nChars - length(regexp_replace(text, "[^a-z0-9 ]", ""))
    Seq(
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      round(nStop.cast("double") / nTok, 6).as("stopword_ratio"),
      round(nPunct.cast("double") / nChars, 6).as("punct_ratio"),
      round((length(regexp_replace(text, "[^a-z0-9 ]", "")) - nTok + 1).cast("double") / nTok, 6)
        .as("mean_tok_len"),
    )
  }

  // ------------------------------------------- shared tokenized corpus

  /** Column name of the memoized rawTokens column on [[docsTok]]. */
  private val RawCol = "graft_raw_tokens"

  /** Shared tokenized-corpus memo (round 17, VERDICT r16 item 8; guide
    * §2.4 "share one exchange/scan"): the registered documents table
    * plus its [[Tokenize.rawTokens]] column, materialized once per
    * session. A dozen x-family queries each re-tokenized the same
    * corpus inside their own serial scan task; they now read this
    * claimed, measured checkpoint and only the first payer tokenizes
    * (build cost surfaced through the Materialized build log like every
    * family memo). Tokenize-once is also the scale-correct pipeline
    * shape — a production curation stack writes the tokenized corpus
    * once and fans its stages out from it. */
  def docsTok(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(spark, s"doc_raw_tokens:${Tables.norm(dir)}")(
      Tables.documents(spark, dir)
        .withColumn(RawCol, Tokenize.rawTokens(col("text"))))

  /** rawTokens over `docs`: the memoized column when present
    * ([[docsTok]] sources), computed on the fly otherwise (tests,
    * streaming frames, any caller-supplied corpus). Same expression,
    * same values — only WHERE the tokenization runs changes. */
  private def rawOf(docs: DataFrame): Column =
    if (docs.columns.contains(RawCol)) col(RawCol)
    else Tokenize.rawTokens(col("text"))

  // ------------------------------------------------------------ registry

  /** q: entity counts over customer "descriptions" (the only capitalized
    * text in the testdata; documents.text is all-lowercase). */
  def xEntityCount(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val txt = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(concat(col("c_name"), lit(" of "), initcap(lower(col("n_name")))).as("t"))
    entityCount(txt, col("t"))
  }

  def xEntityCountSql: String =
    s"""WITH txt AS (
       |  SELECT c_name || ' of ' ||
       |         upper(substr(lower(n_name), 1, 1)) || substr(lower(n_name), 2) AS t
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |), e AS (
       |  SELECT lower(u.ent) AS entity
       |  FROM txt, UNNEST(regexp_extract_all(t, '$EntityRx')) AS u(ent)
       |)
       |SELECT entity, count(*) AS n FROM e GROUP BY entity
       |ORDER BY n DESC, entity ASC""".stripMargin

  /** Corpus-scale language ID: tokenize ONCE, explode, broadcast-join the
    * (lang, word, weight) dictionary (weight 2 unique / 1 shared — same
    * calibration as [[langId]]), sum weights per (doc, lang), argmax via
    * a fieldwise struct MAX with the same (score desc, lang desc) tie
    * rule as the per-row [[langId]] — docs with zero hits in every
    * language fall out of the join and come back as 'und' through the
    * left join. Same output as mapping [[langId]] over the corpus, but
    * the text is tokenized once instead of once per language. */
  def xLangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = docsTok(spark, dir)
    val toks = docs.select(col("doc_id"), explode(rawOf(docs)).as("tok"))
    val dict = langStopwords
      .flatMap { case (l, ws) => ws.map(w => (l, w, if (wordLangCount(w) == 1) 2 else 1)) }
      .toDF("lang", "word", "weight")
    val best = toks.join(broadcast(dict), col("tok") === col("word"))
      .groupBy("doc_id", "lang").agg(sum(col("weight")).as("score"))
      .groupBy("doc_id")
      .agg(max(struct(col("score"), col("lang"))).as("best"))
      .select(col("doc_id"), col("best.lang").as("hit_lang"))
    docs.select("doc_id").join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("hit_lang"), lit("und")).as("pred_lang"))
      .orderBy("doc_id")
  }

  def xLangIdSql: String =
    s"""SELECT doc_id, ${langIdSqlExpr(Tokenize.rawTokensSql("text"))} AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin

  /** x24: language-label QA — the confusion matrix of the corpus's
    * DECLARED `lang` column against the detector's prediction. In a
    * curation pipeline this is the audit surface for upstream metadata:
    * off-diagonal mass flags mislabeled sources (or detector blind
    * spots) before the labels drive mixture weights or per-language
    * filters. One extra |docs|-row join + a tiny (langs × langs)
    * aggregate on top of [[xLangId]]'s corpus-scale detector plan —
    * tokenize once, broadcast dictionary join, no per-language scans. */
  def xLangConfusion(spark: SparkSession, dir: String): DataFrame =
    xLangId(spark, dir)
      .join(docsTok(spark, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  def xLangConfusionSql: String =
    s"""SELECT lang, ${langIdSqlExpr(Tokenize.rawTokensSql("text"))} AS pred_lang,
       |  count(*) AS n
       |FROM documents GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin

  def xQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTok(spark, dir)
    docs.select(col("doc_id") +: qualityCols(col("text"), rawOf(docs)): _*)
      .orderBy("doc_id")
  }

  def xQualitySql: String = {
    val toks = Tokenize.rawTokensSql("text")
    val stops = Tokenize.stopwordsSql
    s"""SELECT doc_id,
       |  length(text) AS n_chars,
       |  len($toks) AS n_tokens,
       |  round(CAST(len(list_filter($toks, t -> t IN ($stops))) AS DOUBLE) / len($toks), 6) AS stopword_ratio,
       |  round(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio,
       |  round(CAST(length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) - len($toks) + 1 AS DOUBLE) / len($toks), 6) AS mean_tok_len
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Token counting: whitespace tokens, BPE-ish subword pieces (letter
    * runs / digit runs / single punctuation, the GPT-2-style pre-tokenize
    * shape), distinct tokens. */
  def xTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTok(spark, dir)
    docs.select(col("doc_id"),
        size(rawOf(docs)).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .as("n_bpe_pieces"),
        size(array_distinct(rawOf(docs))).as("n_distinct"))
      .orderBy("doc_id")
  }

  def xTokenCountSql: String =
    s"""SELECT doc_id,
       |  len(${Tokenize.rawTokensSql("text")}) AS n_ws_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_pieces,
       |  len(list_distinct(${Tokenize.rawTokensSql("text")})) AS n_distinct
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprints: exact md5 of raw text, md5 of the sorted
    * distinct token set (word-order/dup-insensitive), and a polynomial
    * rolling hash over the token stream (order-sensitive, integer-exact:
    * acc = (acc*31 + tokhash) mod 2^31, tokhash = 31*len + ascii(first)). */
  def xFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTok(spark, dir)
    val toks = rawOf(docs)
    val tokHashes = transform(toks, t => lit(31L) * length(t) + ascii(substring(t, 1, 1)))
    docs.select(col("doc_id"),
        md5(col("text").cast("binary")).as("md5_text"),
        md5(array_join(array_sort(array_distinct(toks)), " ").cast("binary")).as("md5_tokenset"),
        aggregate(tokHashes, lit(0L), (acc, x) => (acc * 31L + x) % 2147483647L).as("rolling"))
      .orderBy("doc_id")
  }

  def xFingerprintSql: String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""SELECT doc_id,
       |  md5(text) AS md5_text,
       |  md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS md5_tokenset,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform($toks, t -> CAST(31 * length(t) + ascii(substr(t, 1, 1)) AS BIGINT))),
       |    (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Repetition-based quality signals (the Gopher/C4-style filters a
    * pretraining corpus is scrubbed with): duplicate-token fraction and
    * the fraction of all bigram occurrences taken by the single most
    * repeated bigram. Boilerplate and templated spam score high on both;
    * the downstream filter is a plain threshold predicate.
    *
    * Shape: one tokenize pass; bigram counts are explode → two hash
    * aggregates keyed by doc (map-side partial combine, one shuffle on
    * doc_id); docs with <2 tokens have no bigrams and surface 0.0 through
    * the left join. */
  def repetition(docs: DataFrame): DataFrame = {
    val toksCol = rawOf(docs)
    val base = docs.select(col("doc_id"), toksCol.as("toks"))
    val stats = base.select(col("doc_id"),
      size(col("toks")).as("n_tokens"),
      size(array_distinct(col("toks"))).as("n_distinct"))
    val bigrams = filter(
      zip_with(col("toks"), slice(col("toks"), lit(2), size(col("toks"))),
        (a, b) => concat(a, lit(" "), b)),
      x => x.isNotNull)
    val bgAgg = base.select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bg"), sum("c").as("n_bg"))
    stats.join(bgAgg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("dup_token_frac"),
        coalesce(round(col("top_bg").cast("double") / col("n_bg"), 6), lit(0.0))
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  def xRepetitionSql: String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks FROM documents
       |), s AS (
       |  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct FROM t
       |), bg AS (
       |  SELECT doc_id, toks[u.i] || ' ' || toks[u.i + 1] AS bg
       |  FROM t, UNNEST(range(1, len(toks))) AS u(i)
       |), bgc AS (
       |  SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg
       |), agg AS (
       |  SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM bgc GROUP BY doc_id
       |)
       |SELECT s.doc_id, s.n_tokens,
       |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
       |  COALESCE(round(CAST(top_bg AS DOUBLE) / n_bg, 6), 0.0) AS top_bigram_frac
       |FROM s LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- PII scrub

  private val EmailRx = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val LongDigitsRx = "[0-9]{7,}"

  /** PII redaction: replace emails and long digit runs (phone/account
    * numbers) with placeholder tags, and count what was redacted. Both
    * patterns stay in the RE2-compatible subset so the Spark (Java regex)
    * and DuckDB (RE2) engines agree character-for-character.
    *
    * The testdata corpus is synthetic with no embedded PII, so the query
    * plants a deterministic email + digit run per document first — the
    * redaction math is then exercised on every row, and the md5 of the
    * cleaned text proves byte-exact replacement cross-engine. Single-pass
    * scan expressions, no shuffle until the final orderBy. */
  def piiScrub(docs: DataFrame, textCol: Column): DataFrame = {
    val cleaned = regexp_replace(
      regexp_replace(textCol, EmailRx, "<EMAIL>"), LongDigitsRx, "<NUM>")
    docs
      .select(col("doc_id"),
        regexp_count(textCol, lit(EmailRx)).as("n_emails"),
        regexp_count(textCol, lit(LongDigitsRx)).as("n_digit_runs"),
        length(cleaned).as("clean_len"),
        md5(cleaned.cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** The deterministic per-doc PII planted into the synthetic corpus so
    * every row exercises the redaction (see [[piiScrub]] scaladoc). */
  private def plantedText: Column = concat(col("text"),
    lit(" contact user"), col("doc_id"), lit("@example.com or call "),
    lpad(col("doc_id").cast("string"), 8, "0"))

  def xPiiScrubSql: String = {
    val email = EmailRx // interpolates as the same pattern text both engines parse
    s"""WITH p AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com or call ' ||
       |    lpad(CAST(doc_id AS VARCHAR), 8, '0') AS planted
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, planted,
       |    regexp_replace(regexp_replace(planted, '$email', '<EMAIL>', 'g'),
       |                   '$LongDigitsRx', '<NUM>', 'g') AS cleaned
       |  FROM p
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(planted, '$email')) AS n_emails,
       |  len(regexp_extract_all(planted, '$LongDigitsRx')) AS n_digit_runs,
       |  length(cleaned) AS clean_len,
       |  md5(cleaned) AS clean_md5
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------- hash splitting

  /** Deterministic uniform bucket in [0, 256) from a key column: the
    * first two hex digits of md5(key). Cross-engine reproducible (md5 is
    * the shared hash; hex digits decode via strpos arithmetic — Spark's
    * xxhash64/hash have no DuckDB twin) and stable across runs,
    * partitionings, and engines — the property a train/val/test split
    * must have so no example ever migrates between splits. */
  def hashBucket(key: Column): Column = {
    val hex = md5(key.cast("string").cast("binary"))
    def digit(pos: Int): Column =
      (instr(lit("0123456789abcdef"), substring(hex, pos, 1)) - 1).cast("int")
    digit(1) * 16 + digit(2)
  }

  /** Split assignment: train/val/test at 80/10/10 by hash bucket. */
  def assignSplit(key: Column): Column = {
    val b = hashBucket(key)
    when(b < 204, "train").when(b < 230, "val").otherwise("test") // 204/26/26 of 256
  }

  def xHashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(assignSplit(col("doc_id")).as("split"), col("lang"))
      .groupBy("split", "lang").agg(count(lit(1)).as("n"))
      .orderBy("split", "lang")

  /** DuckDB twin of [[hashBucket]] over a key expression. */
  def hashBucketSqlExpr(key: String): String =
    s"(strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), 1, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), 2, 1)) - 1)"

  /** DuckDB twin of [[assignSplit]] over a key expression. */
  def assignSplitSqlExpr(key: String): String =
    s"CASE WHEN ${hashBucketSqlExpr(key)} < 204 THEN 'train' " +
      s"WHEN ${hashBucketSqlExpr(key)} < 230 THEN 'val' ELSE 'test' END"

  def xHashSplitSql: String =
    s"""WITH b AS (
       |  SELECT lang, ${hashBucketSqlExpr("doc_id")} AS bucket
       |  FROM documents
       |)
       |SELECT CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
       |       lang, count(*) AS n
       |FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  // ----------------------------------------------- stratified sampling

  /** Deterministic capped stratified sampling: each stratum (lang) keeps
    * at most ~`cap` documents via a per-stratum md5-bucket threshold —
    * the domain-rebalancing primitive a corpus mixer runs before
    * training (downweight the over-represented language/source without
    * an RNG, reproducibly across engines, runs, and partitionings).
    *
    * Shape: one small per-stratum aggregate → broadcast threshold join →
    * scan-filter. No per-stratum window sort (a row_number over a 100 TB
    * stratum would shuffle the full stratum to rank it); the price is
    * approximation — the kept count concentrates near cap·(1 ± √(1/cap))
    * rather than exactly cap, the right trade at scale. The sampled-id
    * SUM is part of the output so the oracle checks the exact membership
    * of the sample, not just its size. */
  def stratifiedSample(docs: DataFrame, cap: Long = 120): DataFrame = {
    val thresholds = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      .withColumn("threshold",
        least(lit(256L), ceil(lit(256.0) * cap / col("n_total")).cast("long")))
    docs.join(broadcast(thresholds), "lang")
      .filter(hashBucket(col("doc_id")) < col("threshold"))
      .groupBy("lang", "n_total", "threshold")
      .agg(count(lit(1)).as("n_sampled"),
        sum("doc_id").cast("long").as("sampled_id_sum"))
      .orderBy("lang")
  }

  def stratifiedSampleSql(cap: Long = 120): String =
    s"""WITH c AS (
       |  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang
       |), t AS (
       |  SELECT lang, n_total,
       |    LEAST(256, CAST(CEIL(256.0 * $cap / n_total) AS BIGINT)) AS threshold
       |  FROM c
       |), s AS (
       |  SELECT d.lang, t.n_total, t.threshold, d.doc_id
       |  FROM documents d JOIN t USING (lang)
       |  WHERE ${hashBucketSqlExpr("d.doc_id")} < t.threshold
       |)
       |SELECT lang, n_total, threshold, count(*) AS n_sampled,
       |  CAST(SUM(doc_id) AS BIGINT) AS sampled_id_sum
       |FROM s GROUP BY lang, n_total, threshold ORDER BY lang""".stripMargin

  // ------------------------------------------------- corpus mixing

  /** Per-source mixing weights: the allocation step of a training-data
    * mixer — each source (domain) gets sampling weight
    * min(1, budget / n_tokens) so no source exceeds its per-domain token
    * budget, and the expected post-mix token count is min(budget,
    * n_tokens). One tokenize-count pass + one tiny per-source aggregate;
    * the weights then drive a scan-filter sample (the [[hashBucket]]
    * machinery), so the mix is deterministic end to end. */
  def mixWeights(docs: DataFrame, budgetTokens: Long = 100000L): DataFrame =
    docs.select(col("source"),
        size(rawOf(docs)).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(least(lit(1.0), lit(budgetTokens.toDouble) / col("n_tokens")), 6)
          .as("weight"),
        least(lit(budgetTokens), col("n_tokens")).as("sampled_tokens"))
      .orderBy("source")

  def mixWeightsSql(budgetTokens: Long = 100000L): String =
    s"""WITH t AS (
       |  SELECT source, CAST(len(${Tokenize.rawTokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents
       |), s AS (
       |  SELECT source, count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens,
       |  round(LEAST(1.0, $budgetTokens.0 / n_tokens), 6) AS weight,
       |  LEAST($budgetTokens, n_tokens) AS sampled_tokens
       |FROM s ORDER BY source""".stripMargin

  /** Sequence packing (concat-then-chunk): documents are concatenated in
    * doc_id order and sliced into fixed `seqLen`-token training windows;
    * each doc reports its token offset, first/last chunk, and whether it
    * crosses a chunk boundary — the bookkeeping a pretraining loader
    * needs to map documents to context windows.
    *
    * The prefix sum here is a single global window (fine for a
    * registry-sized table); at corpus scale the same plan becomes the
    * standard two-pass distributed prefix sum — per-partition subtotals
    * (one small aggregate), then a per-partition scan with the
    * broadcast running base — same arithmetic, same output. Offsets stay
    * below 2⁵³ (exact in double) until ~9e15 tokens, two decades past a
    * 100 TB corpus. */
  def sequencePack(docs: DataFrame, seqLen: Long = 512L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("doc_id").rowsBetween(Long.MinValue, 0)
    docs.select(col("doc_id"),
        size(rawOf(docs)).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("tok_offset", col("cum") - col("n_tokens"))
      .withColumn("chunk_first", floor(col("tok_offset") / lit(seqLen.toDouble)))
      .withColumn("chunk_last",
        when(col("n_tokens") === 0, col("chunk_first"))
          .otherwise(floor((col("cum") - 1) / lit(seqLen.toDouble))))
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        col("chunk_first"), col("chunk_last"),
        (col("chunk_last") > col("chunk_first")).cast("long").as("crosses_boundary"))
      .orderBy("doc_id")
  }

  def sequencePackSql(seqLen: Long = 512L): String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(${Tokenize.rawTokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t
       |), d AS (
       |  SELECT doc_id, n_tokens, CAST(cum - n_tokens AS BIGINT) AS tok_offset,
       |    CAST(FLOOR((cum - n_tokens) / $seqLen.0) AS BIGINT) AS chunk_first,
       |    CAST(CASE WHEN n_tokens = 0 THEN FLOOR((cum - n_tokens) / $seqLen.0)
       |         ELSE FLOOR((cum - 1) / $seqLen.0) END AS BIGINT) AS chunk_last
       |  FROM c
       |)
       |SELECT doc_id, n_tokens, tok_offset, chunk_first, chunk_last,
       |  CAST(CASE WHEN chunk_last > chunk_first THEN 1 ELSE 0 END AS BIGINT) AS crosses_boundary
       |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ BPE pairs

  /** BPE first-merge candidates: adjacent character-pair frequencies over
    * the corpus, weighted by word frequency — the statistic the first
    * iteration of byte-pair-encoding tokenizer training maximizes.
    *
    * The 100 TB shape: pair extraction runs over the DISTINCT-word
    * vocabulary (vocab ≪ corpus — one shuffle on word builds the
    * frequency table, partial-aggregated map-side), so the per-word
    * character loop touches each distinct word once however many times
    * it occurs. The interpreted higher-order `transform` is confined to
    * vocab-sized input for the same reason. Words shorter than 2 chars
    * are filtered BEFORE the sequence() call — Spark's sequence(1, 0)
    * yields a DESCENDING range, not empty (unlike DuckDB's range). */
  def bpeMergeCandidates(docs: DataFrame, topK: Int = 20): DataFrame = {
    val vocab = docs
      .select(explode(rawOf(docs)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    vocab.filter(length(col("word")) >= 2)
      .select(col("freq"), explode(
        expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(topK)
  }

  def xBpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergeCandidates(docsTok(spark, dir))

  def xBpeMergesSql(topK: Int = 20): String =
    s"""WITH vocab AS (
       |  SELECT u.word, count(*) AS freq
       |  FROM documents, UNNEST(${Tokenize.rawTokensSql("text")}) AS u(word)
       |  GROUP BY u.word
       |), pairs AS (
       |  SELECT substr(word, CAST(u.i AS INT), 2) AS pair, freq
       |  FROM vocab, UNNEST(range(1, length(word))) AS u(i)
       |)
       |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
       |FROM pairs GROUP BY pair
       |ORDER BY n DESC, pair ASC LIMIT $topK""".stripMargin

  // --------------------------------------------- BPE training + encoding

  /** Recorded merge-round count per key for [[bpeMerges]] — the
    * record-then-unroll oracle contract (g5/g7/g9/g25): small corpora
    * can exhaust their pair supply before `rounds`, so the oracle
    * unrolls exactly the rounds that actually merged. */
  private[text] val bpeRoundsRec =
    scala.collection.concurrent.TrieMap[String, Int]()
  // last-write-wins no-arg-oracle fallback: safe because the gate runs one sf-dir per JVM — rationale at [[graft.graph.Graph.lastRecordKey]]'s doc + NOTES.md "ADVICE r13 item 4 (oracle last-key fallback)"
  @volatile private[text] var lastBpeKey: Option[String] = None

  /** Symbolization of a word as a '##'-bounded symbol string: every
    * boundary (including both ends) is the DOUBLE separator "##", so a
    * single-pass left-to-right literal replace of '#'+l+'##'+r+'#' →
    * '#'+lr+'#' is exactly greedy-leftmost pair merging: the pattern's
    * outer single '#'s anchor l and r as COMPLETE symbols (a mid-symbol
    * suffix can never present '#' before itself), and each replacement
    * consumes one '#' from each flanking double boundary and restores
    * it, so an immediately adjacent occurrence still sees its leading
    * '#'. '#' cannot occur in tokens ([[Tokenize.rawTokens]] emits
    * [a-z0-9]+ only). */
  private def symInit: Column = // over the in-scope "word" column
    concat(lit("##"),
      array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"), "##"),
      lit("##"))

  private def vocab0(docs: DataFrame): DataFrame =
    docs.select(explode(rawOf(docs)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), symInit.as("sym"))

  /** Adjacent-symbol pair counts over a symbolized vocab — the
    * vocab-sized aggregation both BPE trainers ([[bpeMerges]],
    * [[bpeMergesBatched]]) run once per round. */
  private def pairCounts(vocab: DataFrame): DataFrame = vocab
    .select(col("freq"), expr("filter(split(sym, '##'), s -> s <> '')").as("arr"))
    .filter(size(col("arr")) >= 2) // sequence(1, 0) is DESCENDING, not empty — x13 lesson
    .select(col("freq"), explode(expr(
      "transform(sequence(1, size(arr) - 1), j -> struct(element_at(arr, j) AS l, element_at(arr, j + 1) AS r))")).as("p"))
    .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
    .agg(sum("freq").as("n"))

  /** x30: iterative BPE tokenizer training — the real thing, not just
    * x13's first-iteration pair statistics: `rounds` merge rounds, each
    * counting adjacent SYMBOL pairs over the frequency-weighted distinct
    * vocabulary (every occurrence counted, overlaps included — the
    * standard convention), merging the (count desc, lhs asc, rhs asc)
    * argmax everywhere it occurs, and repeating on the merged
    * symbolization — so later merges combine multi-char symbols, which
    * is what makes it BPE. Applying merges in rank order is equivalent
    * to the priority-queue formulation because a merge can never create
    * a new occurrence of an earlier-rank pair (merging inserts a NEW
    * symbol; it never makes two pre-existing symbols adjacent).
    *
    * The 100 TB shape: the corpus is touched ONCE (tokenize + word
    * count, map-side combined); all `rounds` iterations run over the
    * vocab (≪ corpus, Heaps-bounded), each round = one vocab-sized pair
    * aggregation + a broadcast 1-row argmax + a narrow literal-replace
    * map. No data row is ever collected to the driver (the argmax rides
    * a crossJoin(broadcast(limit 1))); the driver pays exactly one
    * 1-row action per round (the early-stop emptiness probe — ADVICE
    * r13 wording fix). Per-round 1-row merge frames accumulate in a
    * local Seq and union AFTER the loop in a balanced pairwise tree
    * (each is already checkpointed), not re-checkpointing the whole
    * growing table every round — the old shape was O(rounds²) tiny
    * checkpoints. Training stops early (recorded) if a round finds no
    * pair left to merge. */
  def bpeMerges(docs: DataFrame, rounds: Int = 10,
                recordKey: Option[String] = None): DataFrame =
    bpeMergesFromWordCounts(
      docs.select(explode(rawOf(docs)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq")),
      rounds, recordKey)

  /** [[bpeMerges]] over a pre-built (word, freq) frame — the probe
    * entry point: the registered corpora cap out at a 31-word vocab
    * (89 merges to exhaustion), so realistic merge counts need a
    * FABRICATED rich vocabulary (SCALE.md "BPE training at realistic
    * merge counts"), and fabricating word counts directly skips
    * re-materializing a giant synthetic corpus whose only purpose is to
    * be re-counted. */
  private[graft] def bpeMergesFromWordCounts(wc: DataFrame, rounds: Int,
                                             recordKey: Option[String] = None): DataFrame = {
    val vgen = graft.plans.Lineage.gen() // keep-2 vocab chain (Lineage.Gen)
    var vocab = vgen.roll(
      wc.select(col("word"), col("freq"), symInit.as("sym")), true)
    var merges = Vector.empty[DataFrame] // 1-row frames, each checkpointed
    var done = 0
    var exhausted = false
    for (i <- 1 to rounds if !exhausted) {
      val best = pairCounts(vocab).orderBy(desc("n"), asc("lhs"), asc("rhs")).limit(1)
        .select(lit(i).as("merge_rank"), col("lhs"), col("rhs"), col("n"))
        .loopCheckpoint(true)
      if (best.isEmpty) exhausted = true
      else {
        merges = merges :+ best
        vocab = vgen.roll(vocab
          .crossJoin(broadcast(best.select(col("lhs").as("b_l"), col("rhs").as("b_r"))))
          .withColumn("sym",
            expr("replace(sym, '#' || b_l || '##' || b_r || '#', '#' || b_l || b_r || '#')"))
          .select("word", "freq", "sym"),
          true)
        done = i
      }
    }
    recordKey.foreach { k => bpeRoundsRec(k) = done; lastBpeKey = Some(k) }
    if (merges.isEmpty)
      vocab.limit(0).select(lit(0).as("merge_rank"), lit("").as("lhs"),
        lit("").as("rhs"), lit(0L).as("n"))
    else {
      // balanced pairwise union, NOT a left fold: each Dataset.union
      // eagerly re-analyzes the growing flattened Union, so a linear
      // fold over one 1-row frame per merge is O(rounds²) plan
      // construction on the driver — fine at rounds=10, a bottleneck
      // at the 10³+ targets SCALE.md's BPE sections measure. Tree shape analyzes
      // O(rounds·log rounds) nodes total (ADVICE r14).
      var layer = merges
      while (layer.size > 1)
        layer = layer.grouped(2)
          .map(g => if (g.size == 2) g(0).union(g(1)) else g(0)).toVector
      layer.head.orderBy("merge_rank")
    }
  }

  /** Recorded batch-round count per key for [[bpeMergesBatched]] —
    * same record-then-unroll oracle contract as [[bpeRoundsRec]]. */
  private[text] val bpeBatchRec =
    scala.collection.concurrent.TrieMap[String, Int]()
  // last-write-wins no-arg-oracle fallback: safe because the gate runs one sf-dir per JVM — rationale at [[graft.graph.Graph.lastRecordKey]]'s doc + NOTES.md "ADVICE r13 item 4 (oracle last-key fallback)"
  @volatile private[text] var lastBpeBatchKey: Option[String] = None

  /** x32: BATCHED symbol-disjoint BPE training — the real-corpus scale
    * path the per-merge loop can't reach. Sequential BPE pays one
    * driver-coordinated round per merge: probe-measured FLAT at
    * ~0.2-0.3 s/merge (SCALE.md round-14/15), which is driver round
    * latency, not vocab work — fine at the registered rounds=10,
    * 40 min at a real tokenizer's 10⁴ merges. Each batched round
    * instead selects up to `batchSize` pairs GREEDILY by the canonical
    * (count desc, lhs, rhs) rank, skipping any pair whose symbol triple
    * {lhs, rhs, concat(lhs,rhs)} — inputs AND merged output — overlaps
    * an already-selected pair's triple, and applies them all at once.
    * Input-only disjointness is NOT enough: (a,b) and (ab,c) have
    * disjoint inputs, yet rule (ab,c) would also merge adjacencies rule
    * (a,b) just created (ADVICE r15). Triple-disjointness makes the
    * batch order-independent AND makes the round-start counts valid for
    * every selected pair (a merge can only change counts of pairs
    * touching its input symbols, and no rule's input is — or can be
    * produced as — another rule's output), so a batch of
    * B costs ONE driver round instead of B — merge throughput scales
    * with B (probe-measured in SCALE.md). The batched rule sequence is
    * a different (coarser) canonical sequence than sequential BPE —
    * standard practice in distributed tokenizer training — which is
    * why it ships as its OWN query (x32) with its own oracle twin
    * rather than replacing x30.
    *
    * Plan shape per round: vocab-sized pair aggregation → top-`candCap`
    * rank (TakeOrderedAndProject) → ONE-row candidate array →
    * `aggregate()` greedy fold (codegen'd, no driver collect) →
    * broadcast crossJoin back onto the vocab → one `aggregate()` of
    * literal replaces. The only driver action per round is the same
    * 1-row early-stop emptiness probe x30 pays. The greedy scan is
    * capped at `candCap` ranked candidates (both engines use the same
    * cap, so the rule sequence is engine-independent); a batch may
    * select fewer than `batchSize` when top candidates interlock. */
  /** Registered x32 parameters — shared with the oracle builder so the
    * two engines run the SAME greedy: the candidate cap bounds the scan
    * identically on both sides. */
  private[text] val bpeBatchRounds = 4
  private[text] val bpeBatchSize = 6
  private[text] val bpeBatchCap = 32

  def bpeMergesBatched(docs: DataFrame, batches: Int = bpeBatchRounds,
                       batchSize: Int = bpeBatchSize,
                       candCap: Int = bpeBatchCap,
                       recordKey: Option[String] = None): DataFrame =
    bpeMergesBatchedFromWordCounts(
      docs.select(explode(rawOf(docs)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq")),
      batches, batchSize, candCap, recordKey)

  private[graft] def bpeMergesBatchedFromWordCounts(
      wc: DataFrame, batches: Int, batchSize: Int, candCap: Int,
      recordKey: Option[String] = None): DataFrame = {
    val vgen = graft.plans.Lineage.gen()
    var vocab = vgen.roll(
      wc.select(col("word"), col("freq"), symInit.as("sym")), true)
    var ruleFrames = Vector.empty[DataFrame]
    var done = 0
    var exhausted = false
    val selType = "array<struct<lhs:string,rhs:string,n:bigint>>"
    for (b <- 1 to batches if !exhausted) {
      // one row holding the rank-ordered candidate array: struct sorts
      // field-by-field, so (-n, lhs, rhs) ascending IS the canonical
      // (n desc, lhs, rhs) merge rank. Disjointness is over each pair's
      // input symbols AND its merged OUTPUT symbol (concat(lhs,rhs)):
      // input-only disjointness admits e.g. (a,b) + (ab,c) in one batch
      // — {a,b} ∩ {ab,c} = ∅ — but rule (ab,c) would then also merge
      // adjacencies rule (a,b) just created, breaking both batch
      // order-independence and round-start-count validity (ADVICE r15).
      val sel = pairCounts(vocab)
        .orderBy(desc("n"), asc("lhs"), asc("rhs")).limit(candCap)
        .agg(expr("sort_array(collect_list(struct(-n AS nn, lhs, rhs, n)))").as("cands"))
        .select(expr(
          s"""aggregate(cands, cast(array() as $selType), (acc, p) ->
             |  CASE WHEN size(acc) >= $batchSize
             |            OR exists(acc, q ->
             |                 arrays_overlap(
             |                   array(q.lhs, q.rhs, concat(q.lhs, q.rhs)),
             |                   array(p.lhs, p.rhs, concat(p.lhs, p.rhs))))
             |  THEN acc
             |  ELSE concat(acc, array(named_struct('lhs', p.lhs, 'rhs', p.rhs, 'n', p.n))) END)""".stripMargin).as("sel"))
        .loopCheckpoint(true)
      val batchRules = sel
        .select(posexplode(col("sel")).as(Seq("pos0", "r")))
        .select(lit(b).as("batch"), (col("pos0") + 1).cast("int").as("pos"),
          col("r.lhs").as("lhs"), col("r.rhs").as("rhs"), col("r.n").as("n"))
      if (batchRules.isEmpty) exhausted = true
      else {
        ruleFrames = ruleFrames :+ batchRules
        vocab = vgen.roll(vocab
          .crossJoin(broadcast(sel))
          .withColumn("sym", expr(
            "aggregate(sel, sym, (s, r) -> replace(s, '#' || r.lhs || '##' || r.rhs || '#', '#' || r.lhs || r.rhs || '#'))"))
          .select("word", "freq", "sym"),
          true)
        done = b
      }
    }
    recordKey.foreach { k => bpeBatchRec(k) = done; lastBpeBatchKey = Some(k) }
    if (ruleFrames.isEmpty)
      vocab.limit(0).select(lit(0).as("batch"), lit(0).as("pos"),
        lit("").as("lhs"), lit("").as("rhs"), lit(0L).as("n"))
    else ruleFrames.reduce(_ union _).orderBy("batch", "pos")
  }

  private def cachedBpeBatch(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"bpe_batch:${Tables.norm(dir)}")(
      bpeMergesBatched(docsTok(s, dir),
        recordKey = Some(Tables.norm(dir))))

  def xBpeBatch(spark: SparkSession, dir: String): DataFrame =
    cachedBpeBatch(spark, dir)

  /** Replay a trained merge table over a fresh vocab symbolization —
    * rebuilds the final symbolization WITHOUT re-counting pairs (each
    * rank is a broadcast 1-row join + a narrow replace; no shuffles
    * beyond the initial word count). */
  def bpeApply(docs: DataFrame, merges: DataFrame, rounds: Int): DataFrame = {
    var vocab = vocab0(docs)
    for (i <- 1 to rounds) {
      val b = merges.filter(col("merge_rank") === i)
        .select(col("lhs").as("b_l"), col("rhs").as("b_r"))
      vocab = vocab.crossJoin(broadcast(b))
        .withColumn("sym",
          expr("replace(sym, '#' || b_l || '##' || b_r || '#', '#' || b_l || b_r || '#')"))
        .select("word", "freq", "sym")
    }
    vocab.loopCheckpoint(true)
  }

  private def cachedBpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"bpe_merges:${Tables.norm(dir)}")(
      bpeMerges(docsTok(s, dir), rounds = 10,
        recordKey = Some(Tables.norm(dir))))

  private def cachedBpeVocab(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"bpe_vocab:${Tables.norm(dir)}") {
      val merges = cachedBpeMerges(s, dir) // ensures the round count is recorded
      bpeApply(docsTok(s, dir), merges,
        bpeRoundsRec.getOrElse(Tables.norm(dir), 0))
    }

  def xBpeTrain(spark: SparkSession, dir: String): DataFrame =
    cachedBpeMerges(spark, dir)

  /** x31: encode the corpus under the x30-trained tokenizer — per-doc
    * BPE token count, char count, and exact chars-per-token compression
    * ratio (HALF_UP micro-unit integer division — the g27 lesson:
    * round(double, 6) can land on opposite sides of a half boundary on
    * the two engines). The corpus-sized stage is one (doc_id, word)
    * count; symbol counts ride a vocab-sized join on word. */
  def xBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTok(spark, dir)
    val vsz = cachedBpeVocab(spark, dir).select(col("word"),
      expr("size(filter(split(sym, '##'), s -> s <> ''))").cast("long").as("n_sym"),
      length(col("word")).cast("long").as("n_chr"))
    val tok = docs.select(col("doc_id"), explode(rawOf(docs)).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val agg = tok.join(vsz, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("n_sym")).as("n_tokens"),
        sum(col("c") * col("n_chr")).as("n_chars"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"),
        when(col("n_tokens") > 0,
          round(expr("(2 * n_chars * 1000000 + n_tokens) div (2 * n_tokens)")
            / lit(1000000.0), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)).as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** Shared CTE prefix for the x30/x31 oracles: v0 (symbolized
    * frequency-weighted vocab) plus one (p_i, b_i, v_i) round triple
    * per RECORDED merge round, all MATERIALIZED (the g25 lesson — each
    * round references the previous one several times). */
  private def bpeCtes(r: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""tok AS MATERIALIZED (
       |  SELECT doc_id, u.word
       |  FROM documents, UNNEST(${Tokenize.rawTokensSql("text")}) AS u(word)),
       |v0 AS MATERIALIZED (
       |  SELECT word, count(*) AS freq,
       |    '##' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substr(word, CAST(i AS INT), 1)), '##') || '##' AS sym
       |  FROM tok GROUP BY word)""".stripMargin
    for (i <- 1 to r) {
      val p = i - 1
      sb ++= s""",
         |p$i AS MATERIALIZED (
         |  SELECT pl, pr, SUM(freq) AS n FROM (
         |    SELECT list_extract(arr, CAST(j AS INT)) AS pl,
         |           list_extract(arr, CAST(j AS INT) + 1) AS pr, freq
         |    FROM (SELECT freq, list_filter(string_split(sym, '##'), s -> s <> '') AS arr
         |          FROM v$p) t, UNNEST(range(1, len(arr))) AS u(j)
         |  ) pp GROUP BY pl, pr),
         |b$i AS MATERIALIZED (
         |  SELECT pl AS lhs, pr AS rhs, n FROM p$i ORDER BY n DESC, pl ASC, pr ASC LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    replace(sym, '#' || b.lhs || '##' || b.rhs || '#', '#' || b.lhs || b.rhs || '#') AS sym
         |  FROM v$p, b$i b)""".stripMargin
    }
    sb.toString
  }

  def xBpeTrainSql(key: Option[String] = None): String = {
    val recorded = bpeRoundsRec.readOnlySnapshot()
    val chosen = key.orElse(lastBpeKey).flatMap(recorded.get)
    if (chosen.isEmpty)
      return s"SELECT graft_error_x30_oracle_without_recorded_run /* keys=${recorded.keys.mkString(";")} */"
    val r = chosen.get
    val un = (1 to r)
      .map(i => s"SELECT $i AS merge_rank, lhs, rhs, CAST(n AS BIGINT) AS n FROM b$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtes(r)}
       |SELECT * FROM (
       |  $un
       |) m ORDER BY merge_rank""".stripMargin
  }

  def xBpeEncodeSql(key: Option[String] = None): String = {
    val recorded = bpeRoundsRec.readOnlySnapshot()
    val chosen = key.orElse(lastBpeKey).flatMap(recorded.get)
    if (chosen.isEmpty)
      return s"SELECT graft_error_x31_oracle_without_recorded_run /* keys=${recorded.keys.mkString(";")} */"
    val r = chosen.get
    s"""WITH ${bpeCtes(r)},
       |dt AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
       |vs AS (SELECT word,
       |  len(list_filter(string_split(sym, '##'), s -> s <> '')) AS n_sym,
       |  length(word) AS n_chr FROM v$r),
       |ag AS (SELECT doc_id, SUM(c * n_sym) AS n_tokens, SUM(c * n_chr) AS n_chars
       |  FROM dt JOIN vs USING (word) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(a.n_chars, 0) AS BIGINT) AS n_chars,
       |  CAST(CASE WHEN COALESCE(a.n_tokens, 0) > 0
       |    THEN round(((2 * a.n_chars * 1000000 + a.n_tokens) // (2 * a.n_tokens)) / 1000000.0, 6)
       |    ELSE 0 END AS DECIMAL(18,6)) AS chars_per_token
       |FROM documents d LEFT JOIN ag a USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  /** Unrolled batch-round CTEs for the x32 oracle: per round, DuckDB
    * independently recomputes the pair counts, the (n desc, lhs, rhs)
    * candidate rank, the GREEDY symbol-disjoint selection (a recursive
    * CTE folding over the ranked candidates — rk 0 seeds empty
    * used/sel lists, each step admits candidate rk+1 iff neither
    * symbol was used and the batch has room), and the simultaneous
    * application. Only the batch COUNT is Spark-derived (the g5
    * record-then-unroll contract). The apply chain nests LINEARLY:
    * sel[j] out of bounds is NULL in DuckDB, so COALESCE turns the
    * needle into chr(1) (never present in a sym string) and the
    * replace is an identity — no 2^B CASE duplication. */
  private def bpeBatchCtes(r: Int): String = {
    val b = bpeBatchSize
    val k = bpeBatchCap
    val sb = new StringBuilder
    sb ++= s"""tok AS MATERIALIZED (
       |  SELECT doc_id, u.word
       |  FROM documents, UNNEST(${Tokenize.rawTokensSql("text")}) AS u(word)),
       |bv0 AS MATERIALIZED (
       |  SELECT word, count(*) AS freq,
       |    '##' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substr(word, CAST(i AS INT), 1)), '##') || '##' AS sym
       |  FROM tok GROUP BY word)""".stripMargin
    for (i <- 1 to r) {
      val p = i - 1
      // disjointness over inputs AND the merged output symbol, mirroring
      // the engine's arrays_overlap triple (ADVICE r15)
      val ok = s"len(g.sel) < $b AND NOT list_contains(g.used, c.lhs)" +
        " AND NOT list_contains(g.used, c.rhs)" +
        " AND NOT list_contains(g.used, c.lhs || c.rhs)"
      var apply = "v.sym"
      for (j <- 1 to b)
        apply =
          s"""replace($apply,
             |      COALESCE('#' || s.sel[$j].lhs || '##' || s.sel[$j].rhs || '#', chr(1)),
             |      COALESCE('#' || s.sel[$j].lhs || s.sel[$j].rhs || '#', ''))""".stripMargin
      sb ++= s""",
         |bp$i AS MATERIALIZED (
         |  SELECT pl, pr, SUM(freq) AS n FROM (
         |    SELECT list_extract(arr, CAST(j AS INT)) AS pl,
         |           list_extract(arr, CAST(j AS INT) + 1) AS pr, freq
         |    FROM (SELECT freq, list_filter(string_split(sym, '##'), s -> s <> '') AS arr
         |          FROM bv$p) t, UNNEST(range(1, len(arr))) AS u(j)
         |  ) pp GROUP BY pl, pr),
         |bc$i AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT pl AS lhs, pr AS rhs, n,
         |           row_number() OVER (ORDER BY n DESC, pl ASC, pr ASC) AS rk
         |    FROM bp$i) rr WHERE rk <= $k),
         |bg$i AS (
         |  SELECT 0 AS rk, CAST([] AS VARCHAR[]) AS used,
         |         CAST([] AS STRUCT(lhs VARCHAR, rhs VARCHAR, n BIGINT)[]) AS sel
         |  UNION ALL
         |  SELECT c.rk,
         |    CASE WHEN $ok THEN g.used || [c.lhs, c.rhs, c.lhs || c.rhs] ELSE g.used END,
         |    CASE WHEN $ok
         |         THEN g.sel || [{'lhs': c.lhs, 'rhs': c.rhs, 'n': CAST(c.n AS BIGINT)}]
         |         ELSE g.sel END
         |  FROM bg$i g JOIN bc$i c ON c.rk = g.rk + 1
         |  WHERE g.rk < $k),
         |bs$i AS MATERIALIZED (
         |  SELECT sel FROM bg$i ORDER BY rk DESC LIMIT 1),
         |bv$i AS MATERIALIZED (
         |  SELECT word, freq, $apply AS sym
         |  FROM bv$p v, bs$i s)""".stripMargin
    }
    sb.toString
  }

  def xBpeBatchSql(key: Option[String] = None): String = {
    val recorded = bpeBatchRec.readOnlySnapshot()
    val chosen = key.orElse(lastBpeBatchKey).flatMap(recorded.get)
    if (chosen.isEmpty)
      return s"SELECT graft_error_x32_oracle_without_recorded_run /* keys=${recorded.keys.mkString(";")} */"
    val r = chosen.get
    if (r == 0)
      return """SELECT CAST(0 AS INT) AS batch, CAST(0 AS INT) AS pos,
               |  '' AS lhs, '' AS rhs, CAST(0 AS BIGINT) AS n WHERE FALSE""".stripMargin
    val un = (1 to r).map(i =>
      s"""SELECT $i AS batch, CAST(u.x.pos AS INT) AS pos, u.x.lhs AS lhs,
         |       u.x.rhs AS rhs, CAST(u.x.n AS BIGINT) AS n
         |  FROM (SELECT list_transform(sel, (x, ix) ->
         |          {'pos': ix, 'lhs': x.lhs, 'rhs': x.rhs, 'n': x.n}) AS sel2
         |        FROM bs$i) t, UNNEST(t.sel2) AS u(x)""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE ${bpeBatchCtes(r)}
       |SELECT * FROM (
       |  $un
       |) m ORDER BY batch, pos""".stripMargin
  }

  // --------------------------------------------------- unigram LM score

  /** Unigram language-model quality score: each document's mean token
    * log-probability under the corpus's own unigram distribution — the
    * classic cheap LM-perplexity proxy a curation pipeline uses to rank
    * documents before an expensive neural scorer (low avg logprob =
    * unusual token mix = candidate for drop or re-review).
    *
    * The 100 TB shape: one pass builds (doc_id, word, c) counts
    * (map-side combined — per-doc distinct words reach the shuffle, not
    * tokens), the vocabulary is its word-marginal (vocab ≪ corpus), the
    * corpus total is a broadcast 1-row frame (A7 pattern, no driver
    * action), and the score join is an ordinary equi-join on word that
    * AQE can skew-split. The count frame is localCheckpoint'd because
    * both the vocabulary and the per-doc branch consume it (the NOTES
    * multi-consumer rule — column pruning would otherwise tokenize the
    * corpus twice).
    *
    * Cross-engine exactness: ln() is a libm call, so each word's logprob
    * is rounded to 6 dp and stored as DECIMAL(18,6) immediately (NOTES
    * libm rule); the per-doc sum is then an exact decimal aggregate, and
    * only the final mean re-enters double land for one clean division
    * before the standard round→DECIMAL output cast. */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(rawOf(docs)).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .loopCheckpoint(true)
    val vocab = tok.groupBy("word").agg(sum("c").cast("long").as("n_w"))
    val total = vocab.agg(sum("n_w").cast("long").as("n_total"))
    val scored = vocab.crossJoin(broadcast(total))
      .select(col("word"),
        round(log(col("n_w").cast("double") / col("n_total")), 6)
          .cast(DecimalType(18, 6)).as("logp"))
    tok.join(scored, "word")
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_tokens"),
        sum(col("logp") * col("c")).cast(DecimalType(18, 6)).as("sum_logp"))
      .select(col("doc_id"), col("n_tokens"), col("sum_logp"),
        round(col("sum_logp").cast("double") / col("n_tokens"), 6)
          .cast(DecimalType(18, 6)).as("avg_logp"))
      .orderBy("doc_id")
  }

  def unigramLogprobSql: String =
    s"""WITH tc AS (
       |  SELECT doc_id, u.word, count(*) AS c
       |  FROM documents, UNNEST(${Tokenize.rawTokensSql("text")}) AS u(word)
       |  GROUP BY doc_id, u.word
       |), vocab AS (
       |  SELECT word, CAST(SUM(c) AS BIGINT) AS n_w FROM tc GROUP BY word
       |), tot AS (
       |  SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM vocab
       |), scored AS (
       |  SELECT word, CAST(round(ln(CAST(n_w AS DOUBLE) / n_total), 6) AS DECIMAL(18,6)) AS logp
       |  FROM vocab, tot
       |), per AS (
       |  SELECT tc.doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(SUM(logp * c) AS DECIMAL(18,6)) AS sum_logp
       |  FROM tc JOIN scored USING (word) GROUP BY tc.doc_id
       |)
       |SELECT doc_id, n_tokens, sum_logp,
       |  CAST(round(CAST(sum_logp AS DOUBLE) / n_tokens, 6) AS DECIMAL(18,6)) AS avg_logp
       |FROM per ORDER BY doc_id""".stripMargin

  /** Per-doc logprob table memoized per (session, sf-dir): x14 emits it,
    * x15 buckets it — one corpus tokenize+score pass per session. */
  private def cachedLogprob(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"unigram_logprob:${Tables.norm(dir)}")(
      unigramLogprob(docsTok(s, dir)))

  // ---------------------------------------------------- perplexity buckets

  /** Quality-score decile buckets (the CCNet shape: rank the corpus by
    * LM score, split into head/middle/tail, sample per bucket): docs
    * ntile'd into 10 buckets by unigram logprob, with per-bucket count,
    * score range, and token mass — the table a curation pipeline uses
    * to pick its quality cutoffs.
    *
    * The ntile window ranks the per-doc SCORE table (doc_id + two
    * decimals — ~24 bytes/doc), never corpus text: at 100 TB of text
    * that table is a few GB, and the production path replaces the exact
    * global window with approx-quantile boundaries + a scan filter
    * (the same output contract); the exact ntile here is the
    * oracle-checkable form. Ties ordered (avg_logp, doc_id) — total
    * order, so both engines bucket identically. */
  def pplBuckets(perDoc: DataFrame, n: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(asc("avg_logp"), asc("doc_id"))
    perDoc
      .select(col("doc_id"), col("n_tokens"), col("avg_logp"),
        ntile(n).over(w).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("avg_logp").as("lo"), max("avg_logp").as("hi"),
        sum("n_tokens").cast("long").as("n_tokens"))
      .orderBy("bucket")
  }

  def pplBucketsSql(n: Int = 10): String =
    s"""WITH per AS (
       |  ${unigramLogprobSql.replace("\n", "\n  ")}
       |), b AS (
       |  SELECT doc_id, n_tokens, avg_logp,
       |    CAST(ntile($n) OVER (ORDER BY avg_logp ASC, doc_id ASC) AS BIGINT) AS bucket
       |  FROM per
       |)
       |SELECT bucket, count(*) AS n_docs,
       |  min(avg_logp) AS lo, max(avg_logp) AS hi,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------- bigram LM score

  /** Bigram language-model quality score — the next rung above [[unigramLogprob]]:
    * each document's mean conditional log-probability ln(c(w₁w₂)/c(w₁·))
    * under the corpus's own bigram distribution. Repetitive/templated text
    * scores near 0 (its bigrams dominate their prefixes); incoherent text
    * scores very negative. Docs with <2 tokens have no bigrams and drop out.
    *
    * Same 100 TB shape as x14: per-doc distinct bigrams reach the first
    * shuffle (map-side combine), the corpus bigram table and its prefix
    * marginal are vocabulary-sized (≪ corpus), and the score join is an
    * equi-join on bigram that AQE can skew-split. The per-doc count frame
    * is localCheckpoint'd (multi-consumer rule), as is the corpus table
    * (prefix marginal + score join both read it). Exactness follows the
    * NOTES libm rule: ln() rounded to 6 dp into DECIMAL(18,6) per bigram,
    * exact decimal sums per doc, one clean double division at the end. */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), rawOf(docs).as("toks"))
    val bigrams = filter(
      zip_with(col("toks"), slice(col("toks"), lit(2), size(col("toks"))),
        (a, b) => concat(a, lit(" "), b)),
      x => x.isNotNull)
    val tc = base.select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .loopCheckpoint(true)
    val corpus = tc.groupBy("bg").agg(sum("c").cast("long").as("n_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .loopCheckpoint(true)
    val prefix = corpus.groupBy("w1").agg(sum("n_bg").cast("long").as("n_w1"))
    val scored = corpus.join(prefix, "w1")
      .select(col("bg"),
        round(log(col("n_bg").cast("double") / col("n_w1")), 6)
          .cast(DecimalType(18, 6)).as("logp"))
    tc.join(scored, "bg")
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_bigrams"),
        sum(col("logp") * col("c")).cast(DecimalType(18, 6)).as("sum_logp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_logp"),
        round(col("sum_logp").cast("double") / col("n_bigrams"), 6)
          .cast(DecimalType(18, 6)).as("avg_logp"))
      .orderBy("doc_id")
  }

  def bigramLogprobSql: String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks FROM documents
       |), bgrows AS (
       |  SELECT doc_id, toks[u.i] || ' ' || toks[u.i + 1] AS bg
       |  FROM t, UNNEST(range(1, len(toks))) AS u(i)
       |), tc AS (
       |  SELECT doc_id, bg, count(*) AS c FROM bgrows GROUP BY doc_id, bg
       |), corpus AS (
       |  SELECT bg, CAST(SUM(c) AS BIGINT) AS n_bg,
       |    split_part(bg, ' ', 1) AS w1
       |  FROM tc GROUP BY bg
       |), prefix AS (
       |  SELECT w1, CAST(SUM(n_bg) AS BIGINT) AS n_w1 FROM corpus GROUP BY w1
       |), scored AS (
       |  SELECT bg, CAST(round(ln(CAST(n_bg AS DOUBLE) / n_w1), 6) AS DECIMAL(18,6)) AS logp
       |  FROM corpus JOIN prefix USING (w1)
       |), per AS (
       |  SELECT tc.doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(logp * c) AS DECIMAL(18,6)) AS sum_logp
       |  FROM tc JOIN scored USING (bg) GROUP BY tc.doc_id
       |)
       |SELECT doc_id, n_bigrams, sum_logp,
       |  CAST(round(CAST(sum_logp AS DOUBLE) / n_bigrams, 6) AS DECIMAL(18,6)) AS avg_logp
       |FROM per ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- per-source profile

  /** Per-source corpus profile: doc count, char/token mass, length
    * percentiles, and language mix — the one table a curation run reads
    * FIRST to decide per-domain quality thresholds and mix weights
    * (pairs with x10). One tokenize pass, one aggregate keyed by source;
    * at 100 TB the output is |sources| rows. Exact interpolated
    * percentiles agree across engines (the q22 precedent); ratios take
    * the standard round→DECIMAL path. */
  def sourceProfile(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("n_chars"),
        size(rawOf(docs)).as("n_toks"),
        (col("lang") === "en").cast("long").as("is_en"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("total_chars"),
        sum("n_toks").cast("long").as("total_tokens"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"),
        sum("is_en").cast("long").as("n_en"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("total_tokens"), col("p50_chars"), col("p90_chars"),
        round(col("n_en").cast("double") / col("n_docs"), 6)
          .cast(DecimalType(18, 6)).as("en_frac"))
      .orderBy("source")

  def sourceProfileSql: String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(len($toks)) AS BIGINT) AS total_tokens,
       |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       |  CAST(round(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
       |    AS DECIMAL(18,6)) AS en_frac
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------- vocabulary coverage

  /** Vocabulary coverage curve: the top-k corpus tokens by frequency
    * with each prefix's share of ALL token occurrences — the table that
    * sizes a tokenizer vocabulary (how many types cover 90/99% of the
    * stream; pairs with x13's merge candidates). One tokenize+count
    * pass (map-side combined); the rank window runs over the vocabulary
    * (≪ corpus), and only k rows survive to the output. */
  def vocabCoverage(docs: DataFrame, k: Int = 50): DataFrame = {
    val counts = docs
      .select(explode(rawOf(docs)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").cast("long").as("n_total"))
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n"), asc("word"))
    counts
      .withColumn("rank", row_number().over(ord).cast("bigint"))
      .withColumn("cum_n",
        sum("n").over(ord.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          .cast("long"))
      .filter(col("rank") <= k)
      .crossJoin(broadcast(total))
      .select(col("rank"), col("word"), col("n"), col("cum_n"),
        round(col("cum_n").cast("double") / col("n_total"), 6)
          .cast(DecimalType(18, 6)).as("coverage"))
      .orderBy("rank")
  }

  def vocabCoverageSql(k: Int = 50): String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""WITH words AS (
       |  SELECT u.word, count(*) AS n
       |  FROM documents, UNNEST($toks) AS u(word) GROUP BY u.word
       |), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM words),
       |ranked AS (
       |  SELECT word, n,
       |    CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS BIGINT) AS rank,
       |    CAST(SUM(n) OVER (ORDER BY n DESC, word ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
       |  FROM words
       |)
       |SELECT rank, word, n, cum_n,
       |  CAST(round(CAST(cum_n AS DOUBLE) / n_total, 6) AS DECIMAL(18,6)) AS coverage
       |FROM ranked, tot WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  // ------------------------------------------------------- RAG chunking
  /** Chunk size / stride (tokens) for [[ragChunks]]: 32-token windows
    * every 24 tokens → 8-token overlap. Fixed so oracle SQL inlines the
    * identical constants. */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Overlapping token-window chunking — the retrieval/RAG ingestion
    * staple (and the unit every context-window training pipeline feeds):
    * each document becomes ⌈(n−size)/stride⌉+1 windows of up to
    * ChunkSize tokens starting every ChunkStride, with a content hash
    * per chunk (the dedup/citation key downstream stages join on).
    *
    * The 100 TB shape: tokenize + window-generate + slice are all
    * per-row projections — zero shuffles, perfectly partition-parallel;
    * output size is corpus·(size/stride) with no skew beyond document
    * length itself. `slice` is a codegen'd builtin (NOT a higher-order
    * lambda — the NOTES inlining trap doesn't apply), and the md5 runs
    * over the joined chunk text only. Chunk count uses pure integer
    * arithmetic, identical on both engines. */
  def ragChunks(docs: DataFrame): DataFrame = {
    val nChunks = when(col("n") <= ChunkSize, lit(1)).otherwise(
      floor((col("n") - ChunkSize + ChunkStride - 1) / lit(ChunkStride))
        .cast("int") + 1)
    docs
      .select(col("doc_id"), rawOf(docs).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * ChunkStride + 1).cast("long").as("start_tok"),
        size(slice(col("toks"), col("chunk_idx") * ChunkStride + 1, lit(ChunkSize)))
          .cast("long").as("n_tok"),
        md5(concat_ws(" ",
          slice(col("toks"), col("chunk_idx") * ChunkStride + 1, lit(ChunkSize))))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  def ragChunksSql: String = {
    val toks = Tokenize.rawTokensSql("text")
    val sz = ChunkSize
    val st = ChunkStride
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks FROM documents
       |), sized AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) <= $sz THEN 1
       |         ELSE (len(toks) - $sz + ${st - 1}) // $st + 1 END AS n_chunks
       |  FROM t
       |), c AS (
       |  SELECT doc_id, toks, g.i AS chunk_idx
       |  FROM sized, UNNEST(range(n_chunks)) AS g(i)
       |)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(chunk_idx * $st + 1 AS BIGINT) AS start_tok,
       |  CAST(len(toks[chunk_idx * $st + 1 : chunk_idx * $st + $sz]) AS BIGINT) AS n_tok,
       |  md5(array_to_string(toks[chunk_idx * $st + 1 : chunk_idx * $st + $sz], ' ')) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // -------------------------------------------- per-source KL divergence
  /** Per-source unigram KL divergence from the corpus distribution:
    * KL(P_source ‖ P_corpus) = Σ_w P_s(w)·ln(P_s(w)/P(w)) — the
    * domain-shift score a mixing stage reads to see which sources are
    * distributionally far from the blend they feed (pairs with x10's
    * budgets and x17's profile).
    *
    * One (source, word) count pass (map-side combined; per-source
    * distinct words reach the shuffle, not tokens), then everything
    * downstream is |sources|·|vocab| rows. The log ratio collapses to
    * ln((c_sw·N)/(N_s·n_w)) — both products are exact BIGINTs well under
    * 2⁵³, so the double division is one exact-operand IEEE op; the libm
    * ln is rounded to 6 dp and stored DECIMAL at birth (x14 discipline),
    * the per-source sum is an exact decimal aggregate of logp·c, and one
    * final division by N_s re-enters double land before the standard
    * round→DECIMAL output cast. */
  def sourceKl(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("source"), explode(rawOf(docs)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .loopCheckpoint(true) // consumed by both marginals AND the score join
    val vocab = tok.groupBy("word").agg(sum("c").cast("long").as("n_w"))
    val totals = tok.groupBy("source").agg(sum("c").cast("long").as("n_s"))
    val grand = vocab.agg(sum("n_w").cast("long").as("n_total"))
    tok
      .join(broadcast(vocab), "word")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(grand))
      .select(col("source"), col("n_s"),
        (round(log((col("c") * col("n_total")).cast("double") /
          (col("n_s") * col("n_w")).cast("double")), 6)
          .cast(DecimalType(18, 6)) * col("c")).as("term"))
      .groupBy("source")
      .agg(first("n_s").cast("long").as("n_tokens"),
        sum("term").cast(DecimalType(18, 6)).as("sum_term"))
      .select(col("source"), col("n_tokens"),
        round(col("sum_term").cast("double") / col("n_tokens"), 6)
          .cast(DecimalType(18, 6)).as("kl"))
      .orderBy("source")
  }

  def sourceKlSql: String =
    s"""WITH tc AS (
       |  SELECT source, u.word, count(*) AS c
       |  FROM documents, UNNEST(${Tokenize.rawTokensSql("text")}) AS u(word)
       |  GROUP BY source, u.word
       |), vocab AS (
       |  SELECT word, CAST(SUM(c) AS BIGINT) AS n_w FROM tc GROUP BY word
       |), totals AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM tc GROUP BY source
       |), grand AS (
       |  SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM vocab
       |), terms AS (
       |  SELECT tc.source, t.n_s,
       |    CAST(round(ln(CAST(tc.c * g.n_total AS DOUBLE) / CAST(t.n_s * v.n_w AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) * tc.c AS term
       |  FROM tc JOIN vocab v USING (word) JOIN totals t USING (source), grand g
       |), per AS (
       |  SELECT source, CAST(any_value(n_s) AS BIGINT) AS n_tokens,
       |    CAST(SUM(term) AS DECIMAL(18,6)) AS sum_term
       |  FROM terms GROUP BY source
       |)
       |SELECT source, n_tokens,
       |  CAST(round(CAST(sum_term AS DOUBLE) / n_tokens, 6) AS DECIMAL(18,6)) AS kl
       |FROM per ORDER BY source""".stripMargin

  // ------------------------------------ pairwise source JS divergence

  /** x25: pairwise Jensen-Shannon divergence between source unigram
    * distributions — the symmetric companion to x20's KL-vs-corpus: a
    * low-JS pair is two sources drawing from the same distribution
    * (candidates for merging or for dedup across them), a high-JS pair
    * marks genuinely distinct domains. Feeds source clustering before
    * mixture-weight assignment.
    *
    * Only SHARED words are joined: for p = a/A, q = b/B the JS halves
    * over words missing from one source collapse to ln 2 · (missing
    * mass), and missing mass = 1 − Σ_shared p — so
    * JS = ½·[Σ_sh p·ln(2p/(p+q)) + Σ_sh q·ln(2q/(p+q))
    *        + ln 2·((A−Σa)/A + (B−Σb)/B)],
    * and the one word-keyed self-join of the (source, word, count)
    * frame carries everything. Determinism is x20's discipline: each
    * log ratio is ln of exact-BIGINT products (2aB vs aB+bA, one
    * exact-operand IEEE division), 6-dp-quantized DECIMAL at birth,
    * weighted by the exact integer count into a decimal sum; the ln 2
    * missing-mass constant is the same 6-dp literal interpolated into
    * both engines (g11 teleport rule). Scale: a hot word present in
    * |S| sources emits |S|² join rows — at thousands of sources, cap
    * by source-df or sample sources per the d4 df-cap discipline;
    * pair count itself is |S|²/2 metadata rows. */
  def jsDivergence(docs: DataFrame): DataFrame = {
    val Out6 = DecimalType(18, 6)
    val tok = docs
      .select(col("source"), explode(rawOf(docs)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .loopCheckpoint(true) // self-joined below — never tokenize twice
    val totals = tok.groupBy("source").agg(sum("c").cast("long").as("n"))
    val shared = tok.select(col("source").as("s1"), col("word"), col("c").as("ca"))
      .join(tok.select(col("source").as("s2"), col("word"), col("c").as("cb")), "word")
      .filter(col("s1") < col("s2"))
      .join(broadcast(totals.select(col("source").as("s1"), col("n").as("na"))), "s1")
      .join(broadcast(totals.select(col("source").as("s2"), col("n").as("nb"))), "s2")
    val denom = (col("ca") * col("nb") + col("cb") * col("na")).cast("double")
    val perPair = shared
      .select(col("s1"), col("s2"), col("ca"), col("cb"),
        (round(log((col("ca") * lit(2) * col("nb")).cast("double") / denom), 6)
          .cast(Out6) * col("ca")).as("t1"),
        (round(log((col("cb") * lit(2) * col("na")).cast("double") / denom), 6)
          .cast(Out6) * col("cb")).as("t2"))
      .groupBy("s1", "s2")
      .agg(sum("t1").cast(Out6).as("t1s"), sum("t2").cast(Out6).as("t2s"),
        sum("ca").cast("long").as("sa"), sum("cb").cast("long").as("sb"))
    // every source pair (|S|² metadata rows), so zero-overlap pairs
    // surface with JS = ln 2 instead of silently vanishing
    val pairs = totals.select(col("source").as("s1"), col("n").as("na"))
      .crossJoin(totals.select(col("source").as("s2"), col("n").as("nb")))
      .filter(col("s1") < col("s2"))
    pairs.join(perPair, Seq("s1", "s2"), "left_outer")
      .select(col("s1"), col("s2"),
        round((coalesce(col("t1s"), lit(0).cast(Out6)).cast("double") / col("na") +
          coalesce(col("t2s"), lit(0).cast(Out6)).cast("double") / col("nb") +
          lit(0.693147) *
            ((col("na") - coalesce(col("sa"), lit(0L))).cast("double") / col("na") +
             (col("nb") - coalesce(col("sb"), lit(0L))).cast("double") / col("nb"))) *
          lit(0.5), 6)
          .cast(Out6).as("js"))
      .orderBy("s1", "s2")
  }

  def jsDivergenceSql: String =
    s"""WITH tc AS (
       |  SELECT source, u.word, count(*) AS c
       |  FROM documents, UNNEST(${Tokenize.rawTokensSql("text")}) AS u(word)
       |  GROUP BY source, u.word
       |), totals AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY source
       |), shared AS (
       |  SELECT a.source AS s1, b.source AS s2, a.c AS ca, b.c AS cb,
       |         ta.n AS na, tb.n AS nb
       |  FROM tc a JOIN tc b ON a.word = b.word AND a.source < b.source
       |  JOIN totals ta ON ta.source = a.source
       |  JOIN totals tb ON tb.source = b.source
       |), terms AS (
       |  SELECT s1, s2, na, nb, ca, cb,
       |    CAST(round(ln(CAST(ca * 2 * nb AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) * ca AS t1,
       |    CAST(round(ln(CAST(cb * 2 * na AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) * cb AS t2
       |  FROM shared
       |), per AS (
       |  SELECT s1, s2,
       |    CAST(SUM(t1) AS DECIMAL(18,6)) AS t1s, CAST(SUM(t2) AS DECIMAL(18,6)) AS t2s,
       |    CAST(SUM(ca) AS BIGINT) AS sa, CAST(SUM(cb) AS BIGINT) AS sb
       |  FROM terms GROUP BY s1, s2
       |), pairs AS (
       |  SELECT a.source AS s1, b.source AS s2, a.n AS na, b.n AS nb
       |  FROM totals a JOIN totals b ON a.source < b.source
       |)
       |SELECT p.s1, p.s2,
       |  CAST(round((CAST(COALESCE(t1s, 0) AS DOUBLE) / na +
       |    CAST(COALESCE(t2s, 0) AS DOUBLE) / nb +
       |    CAST(0.693147 AS DOUBLE) * (CAST(na - COALESCE(sa, 0) AS DOUBLE) / na +
       |      CAST(nb - COALESCE(sb, 0) AS DOUBLE) / nb)) * CAST(0.5 AS DOUBLE), 6)
       |    AS DECIMAL(18,6)) AS js
       |FROM pairs p LEFT JOIN per USING (s1, s2) ORDER BY p.s1, p.s2""".stripMargin

  // ---------------------------------------- content-defined chunking (CDC)

  /** x21: content-defined chunking + cross-document chunk dedup. Chunk
    * boundaries are cut where a token's hash lands in a 1/16 slice
    * (mean chunk ≈ 16 tokens), so boundaries depend only on LOCAL
    * content — after an insertion or deletion the chunking re-synchronizes
    * at the next boundary token, and unchanged chunks keep their hash.
    * That is the property fixed windows (x19 RAG chunks, d12 spans)
    * lack, and why CDC is the standard incremental-dedup granularity.
    *
    * Output: the top repeated chunks across the corpus (chunk hash,
    * token length, occurrence count, distinct docs). Shape: one
    * tokenize+posexplode scan; the boundary flag is a per-row md5 (the
    * cross-engine hash); chunk ids are a running sum over a doc-keyed
    * window (each doc's token stream sorts within its partition — no
    * global sort); chunk reassembly is one doc-keyed aggregate; the
    * final dedup aggregate shuffles 32-byte hashes, never text. */
  def cdcChunks(docs: DataFrame, topK: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val toks = docs.select(col("doc_id"),
      posexplode(rawOf(docs)).as(Seq("pos", "tok")))
    // boundary AFTER each token whose md5 starts with '0' (p = 1/16)
    val flagged = toks.withColumn("b",
      (substring(md5(col("tok").cast("binary")), 1, 1) === "0").cast("long"))
    val chunks = flagged
      .withColumn("chunk_id", coalesce(sum("b").over(w), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").cast("binary")).as("chunk_hash"),
        count(lit(1)).as("n_toks"))
    chunks.groupBy("chunk_hash")
      .agg(max("n_toks").as("n_toks"), count(lit(1)).as("n_occ"),
        countDistinct("doc_id").as("n_docs"))
      .filter(col("n_occ") > 1)
      .orderBy(desc("n_occ"), asc("chunk_hash"))
      .limit(topK)
  }

  def cdcChunksSql(topK: Int = 20): String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks FROM documents
       |), p AS (
       |  SELECT doc_id, u.i AS pos, toks[u.i] AS tok,
       |    CASE WHEN substr(md5(toks[u.i]), 1, 1) = '0' THEN 1 ELSE 0 END AS b
       |  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
       |), c AS (
       |  SELECT doc_id, pos, tok,
       |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM p
       |), ch AS (
       |  SELECT doc_id, chunk_id,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
       |    count(*) AS n_toks
       |  FROM c GROUP BY doc_id, chunk_id
       |)
       |SELECT chunk_hash, MAX(n_toks) AS n_toks, count(*) AS n_occ,
       |  count(DISTINCT doc_id) AS n_docs
       |FROM ch GROUP BY chunk_hash HAVING count(*) > 1
       |ORDER BY n_occ DESC, chunk_hash ASC LIMIT $topK""".stripMargin
  }

  // ------------------------------------------------------------ Zipf slope

  /** x22: least-squares Zipf fit over the corpus token frequency table —
    * slope and intercept of ln(freq) against ln(rank) for the top-N
    * words. A healthy natural-language corpus sits near slope −1;
    * synthetic, templated, or truncated-vocabulary corpora flatten out,
    * making the slope a one-row corpus-health signal (pairs with x17's
    * per-source profile).
    *
    * The frequency table is vocab-sized, so the global rank window and
    * the regression run on metadata, not the corpus; the single corpus
    * scan is the token count. ln() outputs are rounded to 6 dp into
    * DECIMAL at birth (the libm rule), the five regression sums are
    * exact decimal aggregates, and the closed-form slope/intercept is
    * IEEE double arithmetic with mirrored association — so both engines
    * emit identical bytes. */
  def zipfSlope(docs: DataFrame, topN: Int = 100): DataFrame = {
    val Out6 = DecimalType(18, 6)
    val DecP = DecimalType(38, 12)
    // vocab-sized frame: the unpartitioned rank window is metadata-scale
    val rankW = org.apache.spark.sql.expressions.Window.orderBy(desc("f"), asc("w"))
    val xy = docs.select(explode(rawOf(docs)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= topN)
      .select(
        round(log(col("rk").cast("double")), 6).cast(Out6).as("x"),
        round(log(col("f").cast("double")), 6).cast(Out6).as("y"))
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
      .withColumn("slope", col("num") / col("den"))
    d.select(col("n").as("n_words"),
      round(col("slope"), 6).cast(Out6).as("slope"),
      round((col("syd") - col("slope") * col("sxd")) / col("n").cast("double"), 6)
        .cast(Out6).as("intercept"))
  }

  def zipfSlopeSql(topN: Int = 100): String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""WITH wds AS (
       |  SELECT u.w FROM documents, UNNEST($toks) AS u(w)
       |), f AS (
       |  SELECT w, count(*) AS f FROM wds GROUP BY w
       |), r AS (
       |  SELECT f, row_number() OVER (ORDER BY f DESC, w ASC) AS rk FROM f
       |), xy AS (
       |  SELECT CAST(round(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
       |         CAST(round(ln(CAST(f AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
       |  FROM r WHERE rk <= $topN
       |), s AS (
       |  SELECT count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
       |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
       |  FROM xy
       |), d AS (
       |  SELECT n,
       |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
       |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
       |  FROM s
       |)
       |SELECT CAST(n AS BIGINT) AS n_words,
       |  CAST(round(slope, 6) AS DECIMAL(18,6)) AS slope,
       |  CAST(round((syd - slope * sxd) / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS intercept
       |FROM d""".stripMargin
  }

  // ------------------------------------------------------------ Heaps' law

  /** x23: Heaps'-law fit — vocabulary growth V(N) ≈ K·N^β measured at
    * `nBuckets` doc-id checkpoints and fitted in log-log space (β ≈ 0.5
    * for natural text; β → 0 when the vocabulary saturates, β → 1 for
    * id-like token streams). The companion to [[zipfSlope]]: Zipf reads
    * the frequency table's shape, Heaps reads its growth.
    *
    * Scale shape: docs are assigned to `nBuckets` ordered id ranges with
    * pure integer arithmetic (no sort); per-bucket token mass is one
    * aggregate, per-bucket NEW vocabulary is min(doc_id) per word → one
    * aggregate; both cumulative sums and the regression then run on an
    * nBuckets-row frame — the only unpartitioned window is 32 rows of
    * metadata, never the corpus. Same determinism discipline as x22:
    * ln at 6-dp decimal birth, exact decimal regression sums,
    * mirrored-order double closed form. */
  def heapsLaw(docs: DataFrame, nBuckets: Int = 32): DataFrame = {
    val Out6 = DecimalType(18, 6)
    val DecP = DecimalType(38, 12)
    val maxId = docs.agg(max("doc_id").as("max_id"))
    val toks = docs.select(col("doc_id"), explode(rawOf(docs)).as("w"))
      .crossJoin(broadcast(maxId))
      .select(expr(s"(doc_id * $nBuckets) div (max_id + 1)").as("bucket"), col("w"))
      .loopCheckpoint(true) // feeds the token mass AND first-occurrence aggs
    val tokMass = toks.groupBy("bucket").agg(count(lit(1)).as("toks"))
    val newVocab = toks.groupBy("w").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("vocab"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val xy = tokMass.join(newVocab, Seq("bucket"), "left_outer")
      .select(col("bucket"), col("toks"), coalesce(col("vocab"), lit(0L)).as("vocab"))
      .select(
        round(log(sum("toks").over(w).cast("double")), 6).cast(Out6).as("x"),
        round(log(sum("vocab").over(w).cast("double")), 6).cast(Out6).as("y"))
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
      .withColumn("beta", col("num") / col("den"))
    d.select(col("n").as("n_points"),
      round(col("beta"), 6).cast(Out6).as("beta"),
      round((col("syd") - col("beta") * col("sxd")) / col("n").cast("double"), 6)
        .cast(Out6).as("log_k"))
  }

  def heapsLawSql(nBuckets: Int = 32): String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
       |tk AS (
       |  SELECT (doc_id * $nBuckets) // (max_id + 1) AS bucket, u.w
       |  FROM documents, mx, UNNEST($toks) AS u(w)
       |), tm AS (
       |  SELECT bucket, count(*) AS toks FROM tk GROUP BY bucket
       |), nv AS (
       |  SELECT bucket, count(*) AS vocab FROM (
       |    SELECT w, min(bucket) AS bucket FROM tk GROUP BY w) GROUP BY bucket
       |), b AS (
       |  SELECT tm.bucket, tm.toks, COALESCE(nv.vocab, 0) AS vocab
       |  FROM tm LEFT JOIN nv USING (bucket)
       |), xy AS (
       |  SELECT
       |    CAST(round(ln(CAST(SUM(toks) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
       |    CAST(round(ln(CAST(SUM(vocab) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
       |  FROM b
       |), s AS (
       |  SELECT count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
       |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
       |  FROM xy
       |), d AS (
       |  SELECT n,
       |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta,
       |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
       |  FROM s
       |)
       |SELECT CAST(n AS BIGINT) AS n_points,
       |  CAST(round(beta, 6) AS DECIMAL(18,6)) AS beta,
       |  CAST(round((syd - beta * sxd) / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS log_k
       |FROM d""".stripMargin
  }

  // ------------------------------------------- weighted sampling (A-ES)

  /** x27: deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis A-ES): each doc draws u ∈ (0,1] from its md5
    * (48-bit uniform; v+1 over 2⁴⁸ is an exact dyadic, so the double is
    * bit-identical on both engines) and the k SMALLEST exponential keys
    * e/w win, where e = −ln(u) and w = n_chars — equivalent to
    * weight-proportional sampling without replacement. No RNG, no
    * global state: the key is a pure per-row expression (rerunnable,
    * shard-order-independent) and the top-k is TakeOrdered — the
    * mixture-sampling primitive x10's per-source budgets feed at
    * 100 TB, where "sample 0.1% weighted by length" must not sort the
    * corpus. ln is libm → 6-dp decimal at birth (the x14 rule); the
    * key division then runs on identical doubles in both engines, and
    * ordering uses the RAW key (the rounded value is output-only). */
  def xWeightedSample(docs: DataFrame, k: Int = 25): DataFrame = {
    val Out6 = DecimalType(18, 6)
    val hex = md5(col("doc_id").cast("string").cast("binary"))
    def digit(pos: Int): Column =
      (instr(lit("0123456789abcdef"), substring(hex, pos, 1)) - 1).cast("long")
    val v = (1 to 12).foldLeft(lit(0L)) { (acc, i) => acc * 16 + digit(i) }
    val u = (v + 1).cast("double") / lit(281474976710656.0) // (v+1)/2^48, exact
    val e6 = round(log(u), 6).cast(Out6) // ≤ 0; libm output quantized at birth
    docs.select(col("doc_id"), col("n_chars").as("w"),
        (-e6.cast("double") / col("n_chars").cast("double")).as("kraw"))
      .orderBy(asc("kraw"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("w"),
        round(col("kraw").cast(DecimalType(32, 16)), 6).cast(Out6).as("key"))
  }

  def xWeightedSampleSql(k: Int = 25): String =
    """WITH b AS (
      |  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
      |), v AS (
      |  SELECT doc_id, n_chars,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 13), i ->
      |        CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 1 AS BIGINT))),
      |      (acc, x) -> acc * 16 + x) AS hv
      |  FROM b
      |), keyed AS (
      |  SELECT doc_id, n_chars,
      |    -CAST(CAST(round(ln((hv + 1) / 281474976710656.0), 6) AS DECIMAL(18,6)) AS DOUBLE)
      |      / CAST(n_chars AS DOUBLE) AS kraw
      |  FROM v
      |)
      |SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |  CAST(round(CAST(kraw AS DECIMAL(32,16)), 6) AS DECIMAL(18,6)) AS key
      |FROM keyed ORDER BY kraw ASC, doc_id ASC LIMIT """.stripMargin + k

  // ------------------------------------------------------- filter funnel

  /** The funnel's first-fail rule label as a pure (stateless) Column
    * over `text` — shared by the batch funnel and the streaming quality
    * gate ([[graft.streaming.EventStream.qualityGateStream]]). Rules
    * apply in a FIXED order with CASE short-circuit (both engines
    * guarantee it); rule 1 catches n_tokens = 0, so later ratio
    * branches never see a zero denominator. Thresholds are calibrated
    * to the synthetic corpus (each rule fires on real rows at sf0.01);
    * ratio compares run on 6-dp-rounded doubles (identical IEEE on
    * both engines — the x3 discipline). */
  /** Config surface for the x26 quality gate (VERDICT r9 #9): every
    * threshold the funnel applies, tunable per corpus without touching
    * the operator — the engine side ([[funnelRule]]) and the oracle
    * twin ([[filterFunnelSql]]) both render from the SAME instance, so
    * a tuned gate stays oracle-checkable. Defaults are the registered
    * x26 values. */
  case class FunnelConfig(
      minTokens: Int = 16,
      maxChars: Int = 513,
      minStopRatio: Double = 0.02,
      minDistinctRatio: Double = 0.29,
      minMeanTokLen: Double = 4.0,
      maxMeanTokLen: Double = 5.0)

  def funnelRule(cfg: FunnelConfig = FunnelConfig()): Column =
    funnelRule(cfg, Tokenize.rawTokens(col("text")))

  /** [[funnelRule]] with the token array supplied by the caller — the
    * [[docsTok]] sources pass their memoized column; values identical. */
  def funnelRule(cfg: FunnelConfig, raw: Column): Column = {
    val nTok = size(raw)
    val nChars = length(col("text"))
    val nStop = size(filter(raw, t => t.isin(Tokenize.stopwords: _*)))
    val nAlnum = length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))
    val stopRatio = round(nStop.cast("double") / nTok, 6)
    val distinctRatio = round(size(array_distinct(raw)).cast("double") / nTok, 6)
    val meanTokLen = round((nAlnum - nTok + 1).cast("double") / nTok, 6)
    when(nTok < cfg.minTokens, "1_too_short")
      .when(nChars > cfg.maxChars, "2_too_long")
      .when(stopRatio < cfg.minStopRatio, "3_low_stopword")
      .when(distinctRatio < cfg.minDistinctRatio, "4_repetitive")
      .when(meanTokLen < cfg.minMeanTokLen || meanTokLen > cfg.maxMeanTokLen,
        "5_token_shape")
      .otherwise("6_retained")
  }

  /** x26: quality-filter funnel — the gating stage a curation pipeline
    * runs between signal computation (x3) and training-mix assembly
    * (x10), with per-rule drop attribution. Each document is charged to
    * the FIRST rule it fails ([[funnelRule]]), so the funnel rows sum
    * exactly to the corpus and the per-rule counts answer "which rule
    * costs us the most data", the question that decides threshold
    * tuning. One corpus scan computes all signals (tokenize once per
    * row), one tiny 6-row aggregate, and a running-remaining window
    * over those 6 metadata rows — nothing corpus-sized shuffles. All
    * outputs are exact integers. */
  def filterFunnel(docs: DataFrame, cfg: FunnelConfig = FunnelConfig()): DataFrame = {
    val counts = docs.select(funnelRule(cfg, rawOf(docs)).as("rule"))
      .groupBy("rule").agg(count(lit(1)).as("n_docs"))
    // 6 metadata rows: the single-partition window is deliberate
    val w = Window.orderBy("rule")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    counts
      .select(col("rule"), col("n_docs"),
        when(col("rule") === "6_retained", col("n_docs"))
          .otherwise(sum(col("n_docs")).over(tot) - sum(col("n_docs")).over(w))
          .cast("long").as("n_remaining"))
      .orderBy("rule")
  }

  def filterFunnelSql: String = filterFunnelSql(FunnelConfig())

  def filterFunnelSql(cfg: FunnelConfig): String = {
    val toks = Tokenize.rawTokensSql("text")
    val stops = Tokenize.stopwordsSql
    s"""WITH s AS (
       |  SELECT
       |    len($toks) AS n_tokens,
       |    length(text) AS n_chars,
       |    round(CAST(len(list_filter($toks, t -> t IN ($stops))) AS DOUBLE)
       |      / len($toks), 6) AS stop_ratio,
       |    round(CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks), 6) AS distinct_ratio,
       |    round(CAST(length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) - len($toks) + 1 AS DOUBLE)
       |      / len($toks), 6) AS mean_tok_len
       |  FROM documents
       |), labeled AS (
       |  SELECT CASE
       |    WHEN n_tokens < ${cfg.minTokens} THEN '1_too_short'
       |    WHEN n_chars > ${cfg.maxChars} THEN '2_too_long'
       |    WHEN stop_ratio < ${cfg.minStopRatio} THEN '3_low_stopword'
       |    WHEN distinct_ratio < ${cfg.minDistinctRatio} THEN '4_repetitive'
       |    WHEN mean_tok_len < ${cfg.minMeanTokLen} OR mean_tok_len > ${cfg.maxMeanTokLen} THEN '5_token_shape'
       |    ELSE '6_retained' END AS rule
       |  FROM s
       |), counts AS (
       |  SELECT rule, count(*) AS n_docs FROM labeled GROUP BY rule
       |)
       |SELECT rule, n_docs,
       |  CAST(CASE WHEN rule = '6_retained' THEN n_docs
       |    ELSE SUM(n_docs) OVER () - SUM(n_docs) OVER (ORDER BY rule
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS BIGINT)
       |    AS n_remaining
       |FROM counts ORDER BY rule""".stripMargin
  }

  // ----------------------------------------------------- token waterfill

  /** x28: exact equal-share token waterfilling — allocate a global token
    * budget B across sources at a common fill level θ, capping each
    * source at its availability: alloc_s = min(avail_s, θ) with θ chosen
    * so Σ alloc = B (the classical waterfilling solution, solved EXACTLY
    * in one pass, not iterated). This is the allocation step between
    * x10's per-source weights and actual sampling: it answers "at this
    * budget, which sources saturate and where does the waterline sit".
    *
    * Closed form over the sorted source list (avail asc, source asc):
    * source at rank k is exhausted iff prefix_{k-1} + avail_k·(S−k+1) ≤ B
    * — the exhausted set is a prefix of the sort order; the rest get
    * base = ⌊(B − Σ_exhausted)/free⌋ tokens, with the remainder handed
    * one token each to the lexicographically first non-exhausted
    * sources, so Σ alloc == min(B, Σ avail) EXACTLY (ScalaCheck-pinned).
    * If B covers the corpus, every source is exhausted and alloc=avail.
    *
    * Shapes: one corpus scan → |S| metadata rows; the rank/prefix
    * windows and the 1-row exhausted-set aggregate (broadcast crossJoin,
    * the A7 scalar-attach idiom) all run on those |S| rows. Every value
    * is an exact BIGINT. */
  /** Config surface for the x28 allocation (VERDICT r9 #9): the global
    * token budget, renderable into both the engine call and the oracle
    * twin ([[tokenWaterfillSql]]) from one instance. Default is the
    * registered x28 value. */
  case class WaterfillConfig(budget: Long = 26000L)

  def tokenWaterfill(docs: DataFrame, cfg: WaterfillConfig): DataFrame =
    tokenWaterfill(docs, cfg.budget)

  def tokenWaterfillSql(cfg: WaterfillConfig): String = tokenWaterfillSql(cfg.budget)

  def tokenWaterfill(docs: DataFrame, budget: Long = 26000L): DataFrame = {
    val stats = docs
      .select(col("source"), size(rawOf(docs)).cast("long").as("t"))
      .groupBy("source").agg(sum("t").cast("long").as("avail"))
    val wOrd = Window.orderBy(asc("avail"), asc("source"))
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = stats.select(col("source"), col("avail"),
      row_number().over(wOrd).cast("long").as("k"),
      (sum("avail").over(cum) - col("avail")).cast("long").as("prefix"),
      count(lit(1)).over(Window.partitionBy()).cast("long").as("s_n"))
    val e = ranked.withColumn("exhausted",
      (col("prefix") + col("avail") * (col("s_n") - col("k") + 1) <= budget)
        .cast("long"))
    val agg = broadcast(e.agg(
      sum(when(col("exhausted") === 1, col("avail")).otherwise(0L)).cast("long").as("sum_e"),
      sum(col("exhausted")).cast("long").as("n_e"),
      count(lit(1)).cast("long").as("s_all")))
    val srcOrd = Window.orderBy(asc("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("free_pos", sum(lit(1) - col("exhausted")).over(srcOrd))
      .crossJoin(agg)
      .select(col("source"), col("avail"), col("exhausted"),
        when(col("exhausted") === 1, col("avail"))
          .otherwise(
            // integral DIV, not double division + floor: past 2^53 the
            // double rounds before the floor and can land one off from
            // the oracle's exact `//`
            expr(s"(${budget}L - sum_e) DIV (s_all - n_e)") +
              when(col("free_pos") <= (lit(budget) - col("sum_e")) % (col("s_all") - col("n_e")),
                1L).otherwise(0L))
          .cast("long").as("alloc"))
      .orderBy("source")
  }

  def tokenWaterfillSql(budget: Long = 26000L): String = {
    val toks = Tokenize.rawTokensSql("text")
    s"""WITH stats AS (
       |  SELECT source, CAST(SUM(len($toks)) AS BIGINT) AS avail
       |  FROM documents GROUP BY source
       |), ranked AS (
       |  SELECT source, avail,
       |    CAST(row_number() OVER (ORDER BY avail ASC, source ASC) AS BIGINT) AS k,
       |    CAST(SUM(avail) OVER (ORDER BY avail ASC, source ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - avail AS BIGINT) AS prefix,
       |    CAST(count(*) OVER () AS BIGINT) AS s_n
       |  FROM stats
       |), e AS (
       |  SELECT *, CAST(prefix + avail * (s_n - k + 1) <= $budget AS BIGINT) AS exhausted
       |  FROM ranked
       |), agg AS (
       |  SELECT CAST(SUM(CASE WHEN exhausted = 1 THEN avail ELSE 0 END) AS BIGINT) AS sum_e,
       |    CAST(SUM(exhausted) AS BIGINT) AS n_e, CAST(count(*) AS BIGINT) AS s_all
       |  FROM e
       |), pos AS (
       |  SELECT *, CAST(SUM(1 - exhausted) OVER (ORDER BY source ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS free_pos
       |  FROM e
       |)
       |SELECT source, avail, exhausted,
       |  CAST(CASE WHEN exhausted = 1 THEN avail
       |    ELSE ($budget - sum_e) // (s_all - n_e)
       |      + (CASE WHEN free_pos <= ($budget - sum_e) % (s_all - n_e) THEN 1 ELSE 0 END)
       |  END AS BIGINT) AS alloc
       |FROM pos, agg ORDER BY source""".stripMargin
  }

  // ------------------------------------------------ DSIR importance weights

  /** x29: hashed n-gram importance weights for data selection (the DSIR
    * recipe, Xie et al. 2023 "Data Selection for Language Models via
    * Importance Resampling"): score every document by how target-like
    * its token distribution is, logw(d) = Σ_tokens ln(p_t(b)/p_r(b))
    * over HASHED unigram buckets b — the importance log-ratio a
    * selection pass then samples by (Gumbel top-k or threshold). Target
    * here = the lang='en' slice, raw = everything else; bucket
    * probabilities are add-1 smoothed over the FULL 256-bucket domain
    * (unseen buckets still carry mass, so no log 0 and new-data scoring
    * is total).
    *
    * Hashing is the whole scale story (and the paper's): the feature
    * space is a FIXED 256 buckets regardless of vocabulary, so both
    * marginal tables are metadata-sized and broadcast; the corpus-
    * proportional stages are one tokenize scan and one doc_id-keyed
    * aggregate — nothing grows with vocabulary or corpus count. Buckets
    * ride the engine-portable md5 idiom ([[hashBucket]]), so weights are
    * reproducible across engines/partitionings, never an RNG.
    *
    * Determinism: each bucket's log-ratio is ONE double expression of
    * identical shape on both engines (IEEE-deterministic), rounded to
    * 6 dp into DECIMAL at birth; per-doc sums are exact decimal·count
    * arithmetic. Docs with zero tokens drop (x14 semantics).
    *
    * Output (doc_id, n_tokens, logw) ordered by doc_id; logw > 0 reads
    * "more target-like than raw". */
  def dsirWeights(docs: DataFrame): DataFrame = {
    val nB = 256L
    val tok = docs
      .select(col("doc_id"), (col("lang") === "en").as("is_target"),
        explode(rawOf(docs)).as("word"))
      .select(col("doc_id"), col("is_target"),
        hashBucket(col("word")).cast("long").as("b"))
      .groupBy("doc_id", "is_target", "b").agg(count(lit(1)).as("c"))
      .loopCheckpoint(true) // feeds both marginals AND the score join
    val tgt = tok.filter(col("is_target"))
      .groupBy("b").agg(sum("c").cast("long").as("ct"))
    val raw = tok.filter(!col("is_target"))
      .groupBy("b").agg(sum("c").cast("long").as("cr"))
    val tots = tok.agg(
      sum(when(col("is_target"), col("c")).otherwise(0L)).cast("long").as("tt"),
      sum(when(!col("is_target"), col("c")).otherwise(0L)).cast("long").as("tr"))
    val dom = docs.sparkSession.range(nB).toDF("b")
    val ratio = dom
      .join(tgt, Seq("b"), "left_outer")
      .join(raw, Seq("b"), "left_outer")
      .crossJoin(broadcast(tots))
      .select(col("b"),
        round(log(
          ((coalesce(col("ct"), lit(0L)) + 1L).cast("double") /
            (col("tt") + nB).cast("double")) /
          ((coalesce(col("cr"), lit(0L)) + 1L).cast("double") /
            (col("tr") + nB).cast("double"))), 6)
          .cast(DecimalType(18, 6)).as("logr"))
    tok.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_tokens"),
        sum(col("logr") * col("c")).cast(DecimalType(18, 6)).as("logw"))
      .orderBy("doc_id")
  }

  def dsirWeightsSql: String = {
    val bucket = hashBucketSqlExpr("u.word")
    s"""WITH tc AS (
       |  SELECT doc_id, CAST(lang = 'en' AS BOOLEAN) AS is_target,
       |    CAST($bucket AS BIGINT) AS b, count(*) AS c
       |  FROM documents, UNNEST(${Tokenize.rawTokensSql("text")}) AS u(word)
       |  GROUP BY 1, 2, 3
       |), tgt AS (SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM tc WHERE is_target GROUP BY b
       |), raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM tc WHERE NOT is_target GROUP BY b
       |), tots AS (
       |  SELECT CAST(SUM(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT) AS tt,
       |    CAST(SUM(CASE WHEN NOT is_target THEN c ELSE 0 END) AS BIGINT) AS tr
       |  FROM tc
       |), dom AS (SELECT CAST(range AS BIGINT) AS b FROM range(256)
       |), ratio AS (
       |  SELECT dom.b,
       |    CAST(round(ln(
       |      ((COALESCE(ct, 0) + 1) / CAST(tt + 256 AS DOUBLE)) /
       |      ((COALESCE(cr, 0) + 1) / CAST(tr + 256 AS DOUBLE))), 6) AS DECIMAL(18,6)) AS logr
       |  FROM dom LEFT JOIN tgt ON tgt.b = dom.b LEFT JOIN raw ON raw.b = dom.b
       |  CROSS JOIN tots
       |)
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  CAST(SUM(logr * c) AS DECIMAL(18,6)) AS logw
       |FROM tc JOIN ratio USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("x1_entity_count", xEntityCount _, () => xEntityCountSql),
    QuerySpec("x2_lang_id", xLangId _, () => xLangIdSql),
    QuerySpec("x3_quality", xQuality _, () => xQualitySql),
    QuerySpec("x4_token_count", xTokenCount _, () => xTokenCountSql),
    QuerySpec("x5_fingerprint", xFingerprint _, () => xFingerprintSql),
    QuerySpec("x6_hash_split", xHashSplit _, () => xHashSplitSql),
    QuerySpec("x7_repetition", (s, dir) => repetition(docsTok(s, dir)), () => xRepetitionSql),
    QuerySpec("x8_pii_scrub", (s, dir) => piiScrub(Tables.documents(s, dir), plantedText),
      () => xPiiScrubSql),
    QuerySpec("x9_stratified_sample", (s, dir) => stratifiedSample(Tables.documents(s, dir)),
      () => stratifiedSampleSql()),
    QuerySpec("x10_mix_weights", (s, dir) => mixWeights(docsTok(s, dir)), () => mixWeightsSql()),
    QuerySpec("x11_sequence_pack", (s, dir) => sequencePack(docsTok(s, dir)),
      () => sequencePackSql()),
    QuerySpec("x13_bpe_merges", xBpeMerges _, () => xBpeMergesSql()),
    QuerySpec("x14_unigram_logprob", (s, dir) => cachedLogprob(s, dir).orderBy("doc_id"),
      () => unigramLogprobSql, Seq("sum_logp", "avg_logp")),
    QuerySpec("x15_ppl_buckets", (s, dir) => pplBuckets(cachedLogprob(s, dir)),
      () => pplBucketsSql(), Seq("lo", "hi")),
    QuerySpec("x16_bigram_logprob", (s, dir) => bigramLogprob(docsTok(s, dir)),
      () => bigramLogprobSql, Seq("sum_logp", "avg_logp")),
    QuerySpec("x17_source_profile", (s, dir) => sourceProfile(docsTok(s, dir)),
      () => sourceProfileSql, Seq("en_frac")),
    QuerySpec("x18_vocab_coverage", (s, dir) => vocabCoverage(docsTok(s, dir)),
      () => vocabCoverageSql(), Seq("coverage")),
    QuerySpec("x19_rag_chunks", (s, dir) => ragChunks(docsTok(s, dir)), () => ragChunksSql),
    QuerySpec("x20_source_kl", (s, dir) => sourceKl(docsTok(s, dir)), () => sourceKlSql, Seq("kl")),
    QuerySpec("x21_cdc_chunks", (s, dir) => cdcChunks(docsTok(s, dir)), () => cdcChunksSql()),
    QuerySpec("x22_zipf_slope", (s, dir) => zipfSlope(docsTok(s, dir)),
      () => zipfSlopeSql(), Seq("slope", "intercept")),
    QuerySpec("x23_heaps_law", (s, dir) => heapsLaw(docsTok(s, dir)),
      () => heapsLawSql(), Seq("beta", "log_k")),
    QuerySpec("x24_lang_confusion", xLangConfusion _, () => xLangConfusionSql),
    QuerySpec("x27_weighted_sample", (s, dir) => xWeightedSample(Tables.documents(s, dir)),
      () => xWeightedSampleSql(), Seq("key")),
    QuerySpec("x25_js_divergence", (s, dir) => jsDivergence(docsTok(s, dir)),
      () => jsDivergenceSql, Seq("js")),
    QuerySpec("x26_filter_funnel", (s, dir) => filterFunnel(docsTok(s, dir)),
      () => filterFunnelSql),
    QuerySpec("x28_token_waterfill", (s, dir) => tokenWaterfill(docsTok(s, dir)),
      () => tokenWaterfillSql()),
    QuerySpec("x29_dsir_weights", (s, dir) => dsirWeights(docsTok(s, dir)),
      () => dsirWeightsSql, Seq("logw")),
    // built after the queries run: unroll the recorded merge rounds
    QuerySpec("x30_bpe_train", xBpeTrain _, () => xBpeTrainSql()),
    QuerySpec("x31_bpe_encode", xBpeEncode _, () => xBpeEncodeSql(), Seq("chars_per_token")),
    QuerySpec("x32_bpe_batch", xBpeBatch _, () => xBpeBatchSql()),
  )
}
