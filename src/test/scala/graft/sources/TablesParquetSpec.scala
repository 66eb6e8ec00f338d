package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.SparkSpec

/** [[Tables.parquet]] against `spark.read.parquet`: same schema, same
  * rows, and no job to build the frame. */
class TablesParquetSpec extends SparkSpec {
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** `body`'s value and the number of jobs it started. */
  private def jobs[A](body: => A): (A, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      ListenerBus.drain(spark.sparkContext)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def assertParity(path: String): DataFrame = {
    val (df, built) = jobs(Tables.parquet(spark, path))
    assert(built == 0, s"building $path ran $built jobs")
    val ref = spark.read.parquet(path)
    assert(df.schema == ref.schema, path)
    assert(df.exceptAll(ref).isEmpty && ref.exceptAll(df).isEmpty, path)
    df
  }

  test("every table of the test sf dir: same schema and rows as spark.read.parquet, no job") {
    for (t <- tables) assertParity(s"${sf("sf0.01")}/$t.parquet")
    // the counter sees the inference job the reader saves
    assert(jobs(spark.read.parquet(s"${sf("sf0.01")}/region.parquet"))._2 > 0)
  }

  test("a TIMESTAMP(NANOS) file with no Spark metadata reads as nanosAsLong longs") {
    val dir = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message ev { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 5).foreach(i =>
      w.write(g.newGroup().append("id", i.toLong).append("ts", 1700000000000000000L + i * 1000L)))
    finally w.close()
    assert(assertParity(dir).schema("ts").dataType == LongType)
    assert(Tables.parquet(spark, dir).count() == 5)
  }

  test("a Spark partitionBy dir keeps its partition column and type; _SUCCESS and .crc skipped") {
    val path = Files.createTempDirectory("graft_part").toString + "/p"
    spark.range(20).selectExpr("id", "cast(id % 3 as int) as day")
      .write.partitionBy("day").parquet(path)
    val names = Files.walk(java.nio.file.Paths.get(path)).toArray.map(_.toString)
    assert(names.exists(_.endsWith("_SUCCESS")) && names.exists(_.endsWith(".crc")))
    val df = assertParity(path)
    assert(df.schema.fieldNames.toSeq == Seq("id", "day"))
    assert(df.schema("day").dataType == IntegerType)
  }

  test("a missing path and an empty dir fail with Spark's own errors") {
    val missing = intercept[AnalysisException](Tables.parquet(spark, "/nonexistent/graft_tables"))
    assert(missing.getCondition == "PATH_NOT_FOUND", missing)
    val empty = Files.createTempDirectory("graft_empty").toString
    val none = intercept[AnalysisException](Tables.parquet(spark, empty))
    assert(none.getCondition == "UNABLE_TO_INFER_SCHEMA", none)
  }
}
