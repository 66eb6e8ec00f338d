package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Bench's two JSON documents, its regression flag, and its per-query
  * ledger. The renderer is pure, so the flag's cases run on synthetic
  * readings; the ledger runs on the shared session. */
class BenchSpec extends SparkSpec {
  private val mapper = new ObjectMapper
  private def parse(json: String): JsonNode = mapper.readTree(json)
  private def keys(json: String): Set[String] = parse(json).fieldNames.asScala.toSet

  private def regime(probe: Seq[Double], jit: Map[String, Double] = Map.empty) =
    Bench.Regime(Map("q1_agg" -> 0.01), if (probe.isEmpty) Nil else Seq(2.0, 2.1, 2.2),
      probe, Map("q1_agg" -> 0), 3, if (probe.isEmpty) Nil else Seq(0.1, 0.2), jit)

  // a site with a tab and a control char, an sf dir with a quote and a
  // backslash: both documents must still parse
  private val sfDir = "/sf\\\"x\""
  private val row = Bench.Ledger.Row(2, 3, 8, 0.25, 0.2, 0.01, 1, 0.5, 0.5,
    Map("count at A.scala:1 | map at A.scala:1" -> 1, "collect\tat\u0001B" -> 1))

  private def render(results: Map[String, (Double, Double, Double)],
                     regime: Bench.Regime, anchorProbe: Seq[Double] = Seq(1.0),
                     cores: Int = 32) =
    Bench.render(results, reps = 1, sfDir = sfDir, regime = regime,
      episodes = Map.empty, ledger = Map("q1_agg" -> row),
      anchor = Map("q1_agg" -> 1.0), anchorProbe = anchorProbe,
      cores = cores, anchorCores = Some(32))

  test("the compact line has a fixed key set; the ledger rides only the full JSON") {
    val results = Map("q1_agg" -> (1.0, 1.5, 0.0), "g2_pagerank" -> (-2.0, 2.5, 0.4))
    val base = Set("metric", "value", "unit", "cpu_total", "build_sec_total",
      "build_paid", "queries", "failed", "regressed_n", "regressed", "sf", "n_queries")
    val regimeKeys = Set("gc_frac", "load", "probe_drift", "regime_factor",
      "steal_pct", "blocks_max", "episodes_n")
    val (withProbes, full) = render(results, regime(Seq(1.0, 1.1, 1.0)))
    assert(keys(withProbes) == base ++ regimeKeys)
    val (noProbes, fullNoProbes) = render(results, regime(Nil))
    assert(keys(noProbes) == base)
    for (f <- Seq(full, fullNoProbes)) {
      val ledger = parse(f).get("ledger").get("q1_agg")
      assert(ledger.get("jobs").asInt == 2 && ledger.get("stages").asInt == 3)
      assert(ledger.get("sites").get("collect\tat\u0001B").asInt == 1)
    }
    val c = parse(withProbes)
    assert(c.get("failed").asInt == 1 && c.get("n_queries").asInt == 2)
    assert(c.get("sf").asText == sfDir && parse(full).get("sf").asText == sfDir)
    assert(c.get("value").asDouble == 3.0, "a failed query still adds its elapsed time")
  }

  /** Is q1_agg (anchor 1.0 s, anchor probe 1.0 s) flagged at one rep? */
  private def flagged(wall: Double, jit: Double = 0.0, probe: Double = 1.0): Boolean = {
    val (compact, full) = render(Map("q1_agg" -> (wall, wall, 0.0)),
      regime(Seq(probe), Map("q1_agg" -> jit)))
    val names = parse(full).get("regressed").elements.asScala.map(_.asText).toSeq
    assert(parse(compact).get("regressed_n").asInt == names.size)
    names == Seq("q1_agg")
  }

  test("regression flag: a slowdown with no build and no jit is flagged") {
    assert(flagged(wall = 1.5))
  }

  test("regression flag: jit seconds are discounted at one rep") {
    assert(!flagged(wall = 1.5, jit = 0.5))
  }

  test("regression flag: the jit discount is capped at half the wall") {
    assert(flagged(wall = 3.0, jit = 3.0))
  }

  test("regression flag: a host twice as slow as the anchor's is not a regression") {
    assert(!flagged(wall = 1.5, probe = 2.0))
  }

  test("regime factor applies only at the anchor's core count; cores ride the full JSON") {
    val results = Map("q1_agg" -> (1.5, 1.5, 0.0))
    def read(json: String, k: String) = parse(json).get(k).asDouble
    // a 4-core run's 32-partition probe reads ~5.5x the 32-core anchor's
    val (compact4, full4) = render(results, regime(Seq(5.5)), cores = 4)
    assert(read(full4, "regime_factor") == 1.0 && read(compact4, "regime_factor") == 1.0)
    assert(parse(full4).get("cores").asInt == 4 && parse(full4).get("anchor_cores").asInt == 32)
    assert(parse(full4).get("regressed").size == 1, "the 1.5 s reading is not divided by 5.5")
    val (_, full32) = render(results, regime(Seq(5.5)))
    assert(read(full32, "regime_factor") == 5.5 && parse(full32).get("cores").asInt == 32)
    assert(keys(compact4) == keys(render(results, regime(Seq(1.0)))._1),
      "the compact line's key set does not change")
  }

  test("a subset run writes no tracked bench_anchors file") {
    assert(Bench.outputs(fullRun = false, "s") == Seq("/tmp/graft_bench_full.json"))
    assert(Bench.outputs(fullRun = true, "s") == Seq("/tmp/graft_bench_full.json",
      "bench_anchors/bench_full_last.json", "bench_anchors/bench_full_s.json"))
  }

  test("the ledger names AQE stage jobs by their SQL execution, not the pool's call site") {
    val ledger = new Bench.Ledger(spark.sparkContext)
    try {
      import spark.implicits._
      ledger.open()
      noop(spark.range(0, 1000, 1, 4).groupBy(($"id" % 7).as("k")).count())
      val r = ledger.close()
      assert(r.executions == 1, r)
      assert(!r.sites.keys.exists(_.contains("withThreadLocalCaptured")), r.sites)
      assert(r.sites.keys.exists(k => k.startsWith("AQE stage of ") && k.contains("BenchSpec")),
        r.sites)
      assert(r.sites.values.sum == r.jobs)
    } finally spark.sparkContext.removeSparkListener(ledger)
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("the ledger records a known two-action shuffle's jobs, stages and sites exactly") {
    val ledger = new Bench.Ledger(spark.sparkContext)
    try {
      val rdd = spark.sparkContext.parallelize(1 to 100, 4)
        .map(x => (x % 3, x)).reduceByKey(_ + _, 2)
      ledger.open()
      rdd.count()   // one job: map stage (4 tasks) + result stage (2 tasks)
      rdd.collect() // one job: the map stage is skipped, result stage (2 tasks)
      val r = ledger.close()
      assert((r.jobs, r.stages, r.tasks) == (2, 3, 8))
      assert(r.sites.size == 2 && r.sites.values.sum == r.jobs, r.sites)
      ledger.open()
      assert(ledger.close().jobs == 0, "open() zeroes the counters")
    } finally spark.sparkContext.removeSparkListener(ledger)
  }

  test("a plan dump taken after the bracket closes leaves g2_pagerank's row unchanged") {
    val fn = SparkEntry.queries("g2_pagerank")
    val dir = sf("sf0.001")
    val ledger = new Bench.Ledger(spark.sparkContext)
    def bracket() = { ledger.open(); noop(fn(spark, dir)); ledger.close() }
    try {
      noop(fn(spark, dir)) // memo builds and codegen, as Bench's earlier reps
      val row = bracket()
      val out = Files.createTempDirectory("graft_plans_")
      Bench.dumpPlan(spark, "g2_pagerank", fn, dir, out.toString)
      assert(Files.size(out.resolve("g2_pagerank.txt")) > 0)
      Files.delete(out.resolve("g2_pagerank.txt")); Files.delete(out)
      // the same bracket held open across the dump counts its jobs too
      val inflated = ledger.close()
      assert(inflated.jobs > row.jobs, "the dump runs the query's eager checkpoint jobs")
      val again = bracket()
      assert((again.jobs, again.stages, again.tasks, again.sites) ==
        (row.jobs, row.stages, row.tasks, row.sites))
    } finally spark.sparkContext.removeSparkListener(ledger)
  }
}
