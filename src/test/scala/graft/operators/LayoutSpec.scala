package graft.operators

import org.apache.spark.sql.functions._

import graft.{RangeLayout, SparkSpec}
import graft.sources.Tables

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // reference bit-interleave, independent of the Column formulation
  private def zRef(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum

  test("zValue interleaves bits (x even positions, y odd)") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (1023L, 511L), (999999L, 123456L))
    val got = cases.toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map { case (x, y) => zRef(x, y, 20) })
  }

  test("z-ordered layout returns exactly the raw table's rows under a 2-D box") {
    val q = Layout.q30Zorder(spark, sf("sf0.001"))
    val expected = Tables.lineitem(spark, sf("sf0.001"))
      .filter(col("l_orderkey").between(100, 300) && col("l_partkey").between(50, 150))
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        Layout.zValue(col("l_orderkey"), col("l_partkey")).as("zval"))
      .orderBy("zval", "l_orderkey", "l_partkey", "l_linenumber")
    assert(q.collect().toSeq == expected.collect().toSeq)
    assert(q.count() > 0, "box predicate selected nothing — dead test")
  }

  test("z-ordered read pushes both box predicates into the scan") {
    val p = Layout.q30Zorder(spark, sf("sf0.001")).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), "no pushdown on the re-read")
    assert(p.contains("GreaterThanOrEqual(l_orderkey") || p.contains("l_orderkey"), p.take(800))
    assert(p.contains("l_partkey"), "partkey bound not pushed")
  }

  test("zorderWrite range-partitions on zval: AQE-sized files with disjoint ascending z-ranges") {
    val path = java.nio.file.Files.createTempDirectory("graft_z").toString + "/z"
    val li = Tables.lineitem(spark, sf("sf0.001"))
    RangeLayout.withoutCoalescing(spark)(
      Layout.zorderWrite(li, "l_orderkey", "l_partkey", path))
    val files = RangeLayout.keysByFile[Long](spark, path, "zval")
    assert(files.size > 1 && RangeLayout.isRangeLayout(files), files.map(_.size))
    assert(files.map(_.size).sum == li.count())
    Layout.zorderWrite(li, "l_orderkey", "l_partkey", path)
    val one = RangeLayout.keysByFile[Long](spark, path, "zval")
    assert(one.size == 1 && RangeLayout.isRangeLayout(one), one.map(_.size))
  }

  test("bloomPruneJoin result is row-identical to the plain join") {
    val probe = Tables.lineitem(spark, sf("sf0.001"))
    val build = Tables.part(spark, sf("sf0.001"))
      .filter(col("p_size") === 1).select("p_partkey", "p_brand")
    val got = Layout.bloomPruneJoin(probe, build, "l_partkey", "p_partkey")
      .select("l_orderkey", "l_linenumber", "p_partkey", "p_brand")
      .orderBy("l_orderkey", "l_linenumber").collect().toSeq
    val plain = probe.join(build, col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_partkey", "p_brand")
      .orderBy("l_orderkey", "l_linenumber").collect().toSeq
    assert(got == plain)
    assert(plain.nonEmpty, "empty join — dead test")
  }

  test("bloom prune discards most non-matching probe rows before the join") {
    val probe = Tables.lineitem(spark, sf("sf0.001"))
    val build = Tables.part(spark, sf("sf0.001"))
      .filter(col("p_size") === 1).select("p_partkey", "p_brand")
    val total = probe.count()
    val survivors =
      Layout.bloomPruned(probe, build, "l_partkey", "p_partkey").count()
    val matches = probe.join(build, col("l_partkey") === col("p_partkey")).count()
    assert(survivors >= matches, "bloom dropped true matches (false negative!)")
    assert(survivors < total / 2,
      s"bloom barely prunes: $survivors of $total survive for $matches matches")
  }

  test("bloom prune feeds a shuffle join and filters BELOW the shuffle") {
    // the prune only pays in front of a shuffle join: under a broadcast
    // join probe rows already die at the join with zero shuffle, so the
    // bloom would be pure overhead (VERDICT r4). Assert the exact join
    // really shuffles and the bloom membership test sits on the probe
    // side BEFORE the exchange, where it cuts shuffled rows.
    val probe = Tables.lineitem(spark, sf("sf0.001"))
    val build = Tables.part(spark, sf("sf0.001"))
      .filter(col("p_size") === 1).select("p_partkey", "p_brand")
    val plan = Layout.bloomPruneJoin(probe, build, "l_partkey", "p_partkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"exact join is not a shuffle join:\n${plan.take(1200)}")
    assert(!plan.contains("BroadcastHashJoin(l_partkey"),
      "probe joined via broadcast — prune would be pure overhead")
    val joinAt = plan.indexOf("ShuffledHashJoin")
    val filterAt = plan.indexOf("xxhash64")
    assert(filterAt > joinAt && filterAt >= 0,
      "bloom membership test not below the join in the plan")
  }

  test("q34 joins through a runtime dynamicpruning filter on the fact scan") {
    val df = Layout.q34DppJoin(spark, sf("sf0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning subquery in plan:\n${p.take(1000)}")
    assert(df.count() > 0, "empty join — dead test")
  }

  test("compactionPlan: greedy sequential bins, each starting below its boundary") {
    val files = Seq(
      ("2024-01-01", 70L), ("2024-01-02", 40L), ("2024-01-03", 10L),
      ("2024-01-04", 95L), ("2024-01-05", 5L), ("2024-01-06", 200L),
      ("2024-01-07", 1L))
      .toDF("day", "n_rows").select(to_date(col("day")).as("day"), col("n_rows"))
    val got = Layout.compactionPlan(files, targetRows = 100L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // offsets are the running sum of prior sizes; bin = offset / target,
    // so a bin may overshoot by its last file but never starts past its
    // boundary: 70@0→b0, 40@70→b0, 10@110→b1, 95@120→b1, 5@215→b2,
    // 200@220→b2, 1@420→b4 (bin 3 skipped — the 200-row file overshot it)
    assert(got.toSeq == Seq((70L, 0L, 0L), (40L, 70L, 0L), (10L, 110L, 1L),
      (95L, 120L, 1L), (5L, 215L, 2L), (200L, 220L, 2L), (1L, 420L, 4L)))
  }

  test("q47 compaction plan covers every event-day once, bins non-decreasing") {
    val plan = Layout.q47CompactionPlan(spark, sf("sf0.001")).collect()
    val days = plan.map(_.getDate(0).toString)
    assert(days.distinct.length == days.length && days.nonEmpty)
    val bins = plan.map(_.getLong(3))
    assert(bins.zip(bins.tail).forall { case (a, b) => a <= b })
    // offsets reconstruct: each row's start_offset = prior rows' total
    val sizes = plan.map(_.getLong(1))
    val offs = plan.map(_.getLong(2))
    assert(offs.toSeq == sizes.scanLeft(0L)(_ + _).init.toSeq)
  }

  test("q61 bucketed join: SortMergeJoin with no exchange under the join") {
    val df = Layout.q61BucketedJoin(spark, sf("sf0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(500))
    // the ONLY shuffle in the whole plan is the post-join customer
    // rollup — both bucketed scans feed the join exchange-free
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"join sides shuffled:\n${p.take(1200)}")
    assert(!p.contains("BroadcastHashJoin"), "merge hint ignored")
    // and the layout is result-invariant: matches the plain raw join
    val o = Tables.orders(spark, sf("sf0.001"))
    val l = Tables.lineitem(spark, sf("sf0.001"))
    val raw = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_items"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.collect().foreach { r =>
      assert(r.getLong(1) == raw(r.getLong(0)), s"custkey ${r.getLong(0)}")
    }
  }

  test("shardShuffle is a deterministic permutation with dense per-shard positions") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val a = Layout.shardShuffle(docs).collect().toSeq
    val b = Layout.shardShuffle(docs).collect().toSeq
    assert(a == b, "not deterministic across runs")
    assert(a.map(_.getLong(0)).distinct.size == docs.count(), "not a permutation")
    // positions within each shard are 1..n with no gaps
    a.groupBy(_.getInt(1)).foreach { case (shard, rows) =>
      val ps = rows.map(_.getInt(2)).sorted
      assert(ps == (1 to ps.size).toList, s"shard $shard positions not dense: ${ps.take(5)}")
    }
    // a different seed produces a different order (sanity that the seed matters)
    val c = Layout.shardShuffle(docs, seed = 43L).collect().toSeq
    assert(a != c, "seed has no effect")
  }
}
