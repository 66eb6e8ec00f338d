package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.dedup.Dedup
import graft.operators.Sketch
import graft.similarity.Similarity
import graft.sources.Tables

/** Graft operators build their kernel expressions directly: they neither
  * write the caller's function registry nor need anything in it. */
class KernelIsolationSpec extends SparkSpec {
  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("a user's function named graft_md5_hash32 outlives graft operators") {
    val events = Tables.events(spark, sf("sf0.001"))
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val sketch = rows(Sketch.kmvDistinct(events))
    val knn = rows(Similarity.knnBrute(emb, 0L, 5))
    spark.udf.register("graft_md5_hash32", (_: String) => -1L)
    try {
      assert(rows(Sketch.kmvDistinct(events)) == sketch)
      assert(rows(Similarity.knnBrute(emb, 0L, 5)) == knn)
      assert(spark.sql("SELECT graft_md5_hash32('spark')").head().getLong(0) == -1L)
    } finally {
      val (name, builder) = functions.Md5Hash32.injection
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  test("knnBrute, annLsh and the d17 prefix join need no graft_* function") {
    val bare = spark.newSession()
    GraftExtensions.injections.foreach { case (name, _) =>
      assert(bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name)), name)
    }
    def run(s: SparkSession): Seq[Seq[Row]] = {
      val emb = Tables.embeddings(s, sf("sf0.001"))
      Seq(Similarity.knnBrute(emb, 0L, 5), Similarity.annLsh(emb, 0L, 5),
        Dedup.prefixFilterPairs(Dedup.shingleBase(s, sf("sf0.001")))).map(rows)
    }
    val got = run(bare)
    assert(GraftExtensions.injections.forall { case (name, _) =>
      !bare.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))
    })
    assert(got == run(spark))
    assert(got.forall(_.nonEmpty))
  }
}
