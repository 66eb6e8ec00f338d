package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.dedup.Dedup
import graft.graph.Graph
import graft.ml.{AssocRules, Classify, Embed, LogRegGd}
import graft.multimodal.Multimodal
import graft.operators.{AsofJoin, Layout, Relational, SkewJoin, Sketch, Upsert}
import graft.search.{Rank, TfIdf}
import graft.similarity.Similarity
import graft.sources.Tables
import graft.streaming.EventStream
import graft.text.TextStats

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the sf-dir parquet tables: one [[QuerySpec]] row per
  * query carrying its engine dataflow and its DuckDB oracle SQL
  * ([[specs]]; [[queries]] and [[oracleSql]] are views of it). Column
  * names are aliased identically on both sides (the driver sorts columns
  * by name before hashing).
  */
object SparkEntry {
  /** Flagship: multi-term TF-IDF cosine search over `documents`
    * (ref MovieSearchEngine.scala end-to-end). */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val p = TfIdf.postings(docs)
    TfIdf.searchMulti(p, TfIdf.docNorms(p), Seq("spark", "table", "query"))
  }

  private val searchTerms = Seq("spark", "table", "query")

  /** Postings memoized per (session, sf-dir): t1/t2/t3 all search the
    * same inverted index, so it is built once per session
    * ([[graft.plans.Materialized]]). */
  private def cachedPostings(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"tfidf_postings:${Tables.norm(dir)}")(
      TfIdf.postings(Tables.documents(s, dir)))

  /** Stemmed index memo (t15): same dataflow as [[cachedPostings]] with
    * the light-stemmer term transform (the reference's disabled Stemmer
    * annotator, MovieSearchEngine.scala:66-68, now has a live analog). */
  private def cachedStemmedPostings(s: SparkSession, dir: String): DataFrame =
    graft.plans.Materialized(s, s"tfidf_stemmed_postings:${Tables.norm(dir)}")(
      TfIdf.postings(Tables.documents(s, dir),
        termXform = graft.text.Tokenize.stem))

  // ------------------------------------------------------------------
  // Hashed-output representation rule (round 6).
  //
  // The driver's comparator loads the Spark parquet via pandas/pyarrow
  // (DECIMAL -> decimal.Decimal -> str "0.900000") but the DuckDB oracle
  // via .df() (DECIMAL -> float64 -> str "0.9"), then hashes stringified
  // sorted rows. Any decimal value whose 6-dp string has trailing zeros
  // therefore hash-fails even when values are exact — that asymmetry
  // was bisected against CORRECTNESS_r05.json (44/44 reds predicted,
  // zero false or missed reds; see tools/check_local.py, which now
  // reproduces the same asymmetric load).
  //
  // Fix: NO hashed output column is ever DECIMAL. Every rounded-ratio
  // column (jaccard, cos, recall, logprob, KL, ...) is emitted as BIGINT
  // micro-units — value ×1e6, exact by construction since every such
  // column is round(x, 6)-quantized at birth — on BOTH the engine and
  // the oracle side. Integer columns have hashed green in all five
  // rounds. The library functions themselves still return DECIMAL(18,6)
  // (the friendly API, spec-tested); only this registry projection and
  // the oracle twins convert. Each QuerySpec row lists its own decimal
  // columns (`microCols`), the single source of truth for both sides.
  // ------------------------------------------------------------------

  /** Engine-side projection: every DECIMAL output column → BIGINT
    * micro-units (×1e6, exact — all such columns are 6-dp-quantized at
    * birth, scale ≤ 6). Fails LOUDLY if the actual decimal column set
    * drifts from the row's `microCols` (which the oracle wrapper
    * consumes), so a drift can never surface as a silent hash mismatch. */
  private def microize(q: QuerySpec, df: DataFrame): DataFrame = {
    val dec = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[DecimalType] =>
        val d = f.dataType.asInstanceOf[DecimalType]
        require(d.scale <= 6,
          s"${q.name}.${f.name}: decimal scale ${d.scale} > 6 — ×1e6 would not be exact")
        f.name
    }.toSeq
    require(dec.sorted == q.microCols.sorted,
      s"${q.name}: decimal output columns $dec drifted from its QuerySpec " +
        s"microCols ${q.microCols} — update the row")
    if (dec.isEmpty) df
    else df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType =>
          (col(f.name) * lit(1000000)).cast(LongType).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Oracle-side twin of [[microize]]: wrap the SQL so the same columns
    * come back as BIGINT micro-units (DuckDB decimal×int is exact; the
    * cast of an integral decimal to BIGINT is exact). */
  private def microizeSql(cols: Seq[String], sql: String): String =
    if (cols.isEmpty) sql
    else {
      val rep = cols.map(c => s"""CAST("$c" * 1000000 AS BIGINT) AS "$c"""")
        .mkString(", ")
      s"SELECT * REPLACE ($rep) FROM (\n$sql\n) graft_micro"
    }

  /** A row's engine side as the driver hashes it. */
  def run(q: QuerySpec)(s: SparkSession, dir: String): DataFrame =
    microize(q, q.run(s, dir))

  /** A row's oracle SQL as the driver runs it. Renders the SQL, so call it
    * only after the row's query has run. */
  def oracle(q: QuerySpec): String = microizeSql(q.microCols, q.oracle())

  /** Every registered query, one row each. Building it renders no SQL;
    * a name registered twice fails here, naming it. */
  def specs: Seq[QuerySpec] = QuerySpec.unique(
    Relational.specs ++ AsofJoin.specs ++ SkewJoin.specs ++ Upsert.specs ++
      Layout.specs ++ Sketch.specs ++ Graph.specs ++ TextStats.specs ++
      Dedup.specs ++ Similarity.specs ++ EventStream.specs ++ Classify.specs ++
      Embed.specs ++ LogRegGd.specs ++ AssocRules.specs ++ Multimodal.specs ++
      Rank.specs ++ tfidfSpecs)

  /** Driver contract: query name → engine dataflow. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> (run(q) _)).toMap

  /** Driver contract: query name → oracle SQL. Renders every oracle, so
    * read it after the queries run. */
  def oracleSql: Map[String, String] =
    specs.map(q => q.name -> oracle(q)).toMap

  /** The dev-only `SPARK_GRAFT_ONLY` subset: comma-separated query names,
    * None for the full registry (the driver never sets it). A name that
    * is not registered fails loudly, so a typo cannot turn into an empty
    * run that "passes". */
  def only(raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[Set[String]] =
    raw.map { r =>
      val names = r.split(',').map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty, s"SPARK_GRAFT_ONLY='$r' selects no query")
      val unknown = names -- specs.map(_.name)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unregistered queries: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** The registry rows `only` selects, in registry order. */
  def selected(names: Option[Set[String]] = only()): Seq[QuerySpec] =
    specs.filter(q => names.forall(_.contains(q.name)))

  private def tfidfSpecs: Seq[QuerySpec] = Seq(
    QuerySpec("t1_tfidf_single", (s, dir) => TfIdf.searchSingle(cachedPostings(s, dir), "spark"),
      () => TfIdf.searchSingleSql("spark")),
    QuerySpec("t2_tfidf_multi", (s, dir) => {
      val p = cachedPostings(s, dir)
      TfIdf.searchMulti(p, TfIdf.docNorms(p), searchTerms)
    }, () => TfIdf.searchMultiSql(searchTerms)),
    // same oracle as t1, but served from the engine-written parquet
    // index (term-range-partitioned; the point lookup prunes row
    // groups) — covers the persisted-index read path end to end
    QuerySpec("t3_tfidf_persisted", (s, dir) => {
      val path = graft.sources.Artifacts.path(s"tfidf_idx_${Tables.norm(dir)}")
      // index write amortized once per (session, sf-dir) — the
      // persisted-read path is the operator (q61's discipline)
      graft.plans.Materialized(s, s"tfidf_idx_layout:${Tables.norm(dir)}") {
        TfIdf.writeIndex(cachedPostings(s, dir), path)
        s.range(1).toDF("ok")
      }
      TfIdf.searchSingle(TfIdf.readIndex(s, path), "spark")
    }, () => TfIdf.searchSingleSql("spark")),
    // single-term search over the STEMMED index: the query literal is
    // stemmed by the same shared rule set at plan-build time
    // ("tables" → "table"), so index and query can never drift
    QuerySpec("t15_stemmed_search", (s, dir) =>
      TfIdf.searchSingle(cachedStemmedPostings(s, dir),
        graft.text.Tokenize.stemString("tables")),
      () => TfIdf.stemmedSearchSingleSql(graft.text.Tokenize.stemString("tables"))),
  )
}
