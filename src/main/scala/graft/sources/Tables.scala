package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Readers for the graft test tables (TESTDATA.md / FIXTURES.md §A).
  *
  * Mirrors the reference's source surface (SURVEY.md §2.1 S1-S9) but
  * parquet-first: schemas come from parquet footers (self-describing),
  * filters/projections push down into the scan. CSV/text readers below
  * reproduce the reference's CSV ingestion semantics
  * (ref: StandaloneScala/PageRank.scala:27, EpinionsGraphFrameAnalysis.scala:49-53,
  * ScalaNotebooks/MovieSearchEngine.scala:25-29).
  *
  * [[parquet]] is the engine's one parquet reader: every parquet read in
  * `src/main` goes through it (`SourceGuardSpec` fails on any other).
  */
object Tables {
  /** Normalize a scale-factor dir (tolerate trailing slash). */
  def norm(dir: String): String = if (dir.endsWith("/")) dir.dropRight(1) else dir

  /** Spark's `read.parquet` of `path` without its schema-inference job.
    *
    * Spark's inference with `mergeSchema=false` (the default) reads one
    * footer — `_common_metadata`, else `_metadata`, else the first data
    * file by path — in a one-task job: 41–75 ms plus driver gap per
    * read on a 4-core host, 7 jobs per corpus_memo pass. This reads that
    * same footer on the driver and hands the schema to
    * `spark.read.schema`: Spark's stored row-metadata schema when the
    * footer has one, else the parquet schema converted under the
    * session conf (so `nanosAsLong` and INT96 behave as in inference).
    * The file set is Spark's own listing (hidden, `_SUCCESS` and `.crc`
    * files skipped); partition columns are still discovered from
    * directory names. A missing path, a glob, an empty dir or a session
    * with `spark.sql.parquet.mergeSchema` on takes Spark's own inference,
    * so errors stay Spark's (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || !root.getFileSystem(hadoopConf).exists(root)) None
    else {
      val files = new InMemoryFileIndex(spark, Seq(root), Map.empty, None).allFiles()
        .sortBy(_.getPath.toString)
      val summaries = Seq("_common_metadata", "_metadata")
      summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
        .map { f =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
        }
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"${norm(dir)}/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** Events table with a normalized micro-precision `ts` timestamp.
    *
    * Some SF dirs store `ts` as parquet TIMESTAMP(NANOS), which Spark can
    * only read with `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * Verify/Bench/test sessions) — the column then arrives as LongType
    * nanos and is converted here (lossless: the generator emits
    * micro-precision values). Other SF dirs store micros directly —
    * either adjusted-to-UTC (TimestampType) or naive
    * (isAdjustedToUTC=false → TIMESTAMP_NTZ), which is normalized to
    * TimestampType here. The session time zone is pinned to UTC, so the
    * NTZ→LTZ cast is value-preserving and agrees with DuckDB's naive
    * read of the same file. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  // Round-16 NEGATIVE RESULT (recorded so it is not re-tried): a
  // row-derived hash-repartition of the documents scan (to spread the
  // tokenization CPU of the single-row-group gate files across cores)
  // multiplied per-doc expression cost ~8-10× — the post-exchange
  // projection loses the scan stage's whole-stage-codegen subexpression
  // sharing and the higher-order-function-heavy pipelines re-evaluate
  // each rawTokens reference interpreted — for flat wall at 32 cores
  // and a large regression at the driver's low-core bench. Corpus
  // parallelism must come from the FILE layout (many row groups /
  // files), not a post-scan shuffle.
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Text scan, one row per line, single `value` column
    * (ref: MovieSearchEngine.scala:25). */
  def text(spark: SparkSession, path: String): DataFrame = spark.read.text(path)

  /** CSV scan with header-named columns (ref: PageRank.scala:27,
    * AirlineSentimentAnalysis.scala:36). */
  def csvHeader(spark: SparkSession, path: String, sep: String = ","): DataFrame =
    spark.read.option("header", "true").option("sep", sep).csv(path)

  /** CSV scan with `#`-comment filtering and tab delimiter
    * (ref: EpinionsGraphFrameAnalysis.scala:49-53). */
  def tsvComments(spark: SparkSession, path: String): DataFrame =
    spark.read.option("comment", "#").option("delimiter", "\t").csv(path)
}
