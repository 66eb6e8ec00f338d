package graft.search

import org.apache.spark.sql.functions._

import graft.{RangeLayout, SparkSpec}

/** Golden TF-IDF tests over a hand-computed mini corpus
  * (FIXTURES.md §B.1 shape). */
class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  // 3 docs: "cat" in docs 0,1; "dog" only in 1; "bird" only in 2 (twice)
  private lazy val docs = Seq(
    (0L, "cat runs"),
    (1L, "cat dog"),
    (2L, "bird bird")).toDF("doc_id", "text")

  private lazy val p = TfIdf.postings(docs).cache()

  test("tf, df, idf, tfidf match hand computation") {
    val rows = p.collect().map(r =>
      (r.getAs[String]("term"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("tfidf"))).toMap
    assert(rows(("cat", 0L))._1 == 1 && rows(("cat", 0L))._2 == 2)
    assert(math.abs(rows(("cat", 0L))._3 - math.log(3.0 / 2.0)) < 1e-12)
    // "bird" tf=2 in doc 2, df=1 → tfidf = 2·ln(3)
    assert(math.abs(rows(("bird", 2L))._3 - 2 * math.log(3.0)) < 1e-12)
  }

  test("searchSingle ranks by tfidf desc") {
    val got = TfIdf.searchSingle(p, "cat").select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L)) // equal scores → doc_id tiebreak
    val bird = TfIdf.searchSingle(p, "bird").select("doc_id").as[Long].collect().toSeq
    assert(bird == Seq(2L))
  }

  test("searchMulti squared-norm quirk ranking (ref MovieSearchEngine.scala:304)") {
    val norms = TfIdf.docNorms(p)
    val got = TfIdf.searchMulti(p, norms, Seq("cat", "dog"), k = 3)
      .select("doc_id").as[Long].collect().toSeq
    // doc 1 contains both terms; doc 0 only "cat"; doc 2 neither (dropped by inner join)
    assert(got.head == 1L && got.toSet == Set(0L, 1L))
  }

  test("searchMulti trueCosine gives sane [0,1] scores") {
    val norms = TfIdf.docNorms(p)
    val scores = TfIdf.searchMulti(p, norms, Seq("cat", "dog"), k = 3, trueCosine = true)
      .select("score").as[Double].collect()
    assert(scores.forall(s => s >= -1e-9 && s <= 1 + 1e-9))
  }

  test("no-hit term returns empty, not error") {
    assert(TfIdf.searchSingle(p, "zebra").count() == 0)
  }

  test("index persists to parquet and round-trips searches exactly") {
    val path = java.nio.file.Files.createTempDirectory("graft_idx").toString + "/idx"
    // with coalescing off every range is a file: term ranges disjoint
    // and ascending across files, each file term-sorted
    RangeLayout.withoutCoalescing(spark)(TfIdf.writeIndex(p, path))
    val files = RangeLayout.keysByFile[String](spark, path, "term")
    assert(files.size > 1 && RangeLayout.isRangeLayout(files), files)
    // with the session's confs AQE coalesces a small index to one file
    TfIdf.writeIndex(p, path)
    val one = RangeLayout.keysByFile[String](spark, path, "term")
    assert(one.size == 1 && RangeLayout.isRangeLayout(one), one)
    val back = TfIdf.readIndex(spark, path)
    val a = TfIdf.searchSingle(p, "cat").collect().map(_.toSeq).toSeq
    val b = TfIdf.searchSingle(back, "cat").collect().map(_.toSeq).toSeq
    assert(a == b)
    // the term predicate reaches the parquet scan of the persisted index
    val plan = TfIdf.searchSingle(back, "cat").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(term,cat)"), plan)
  }
}
