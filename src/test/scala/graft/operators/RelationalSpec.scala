package graft.operators

import org.apache.spark.sql.functions.{col, unix_micros}

import graft.SparkSpec

/** Structural checks of the relational queries on sf0.001 (the DuckDB
  * oracle at sf0.01 is the exact gate; these are fast invariants). */
class RelationalSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("q1 groups by (returnflag, linestatus) with positive sums") {
    val rows = Relational.q1Agg(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 9)
    assert(rows.forall(_.getAs[Double]("sum_qty") > 0))
  }

  test("q2 topk is sorted desc and ≤10 rows") {
    val prices = Relational.q2Topk(spark, dir).collect().map(_.getAs[Double]("l_extendedprice"))
    assert(prices.length == 10 && prices.sameElements(prices.sorted.reverse))
  }

  test("q5 full outer keeps one-sided rows") {
    val df = Relational.q5FullOuter(spark, dir)
    assert(df.filter("hi_value IS NULL").count() > 0) // groups with no high-value events survive
  }

  test("q7 distinct counts bounded by row counts") {
    Relational.q7CountDistinct(spark, dir).collect().foreach { r =>
      assert(r.getAs[Long]("n_orders") <= r.getAs[Long]("n_rows"))
    }
  }

  test("q33 incremental rollup equals direct monthly aggregation") {
    import org.apache.spark.sql.functions._
    val D204 = org.apache.spark.sql.types.DecimalType(20, 4)
    val direct = graft.sources.Tables.events(spark, dir)
      .groupBy(year(col("ts")).as("yr"), month(col("ts")).as("mo"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("value").cast(D204)).cast("double").as("sum_value"))
      .orderBy("yr", "mo", "event_type")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val viaDailies = Relational.q33IncrementalRollup(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(viaDailies == direct, "daily->monthly reaggregation diverged from direct")
    assert(direct.nonEmpty)
  }

  test("q10 window running sum is monotone per partition for positive values") {
    val rows = Relational.q10Window(spark, dir).collect()
      .groupBy(_.getAs[Long]("user_id"))
    rows.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("running_value"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => b >= a })
    }
  }

  test("q39 rolling 1h counts match a brute-force recomputation") {
    val got = Relational.q39Rolling(spark, dir).collect()
      .filter(_.getAs[Long]("user_id") < 5)
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_1h")).toMap
    assert(got.nonEmpty)
    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("user_id") < 5)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = ev.map { case (u, e, us) =>
      e -> ev.count { case (u2, _, us2) =>
        u2 == u && us2 >= us - 3600000000L && us2 <= us
      }.toLong
    }.toMap
    assert(got == brute)
  }

  test("q40 decimal-sum correlation matches Spark's built-in corr") {
    val got = Relational.q40GroupedCorr(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDecimal(2).doubleValue).toMap
    val builtin = graft.sources.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions
        .corr("l_quantity", "l_extendedprice").as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == builtin.keySet && got.nonEmpty)
    got.foreach { case (flag, c) =>
      assert(math.abs(c - builtin(flag)) < 1e-6, s"$flag: $c vs ${builtin(flag)}")
    }
  }

  test("q41 correlated subquery equals the hand-decorrelated join") {
    import org.apache.spark.sql.functions.{count => fcount, sum => fsum}
    val got = Relational.q41Subquery(spark, dir).collect()
      .map(_.getLong(0)).toSeq
    val o = graft.sources.Tables.orders(spark, dir)
    val agg = o.groupBy("o_custkey")
      .agg(fcount(org.apache.spark.sql.functions.lit(1)).as("n"),
        fsum(col("o_totalprice").cast("decimal(20,4)")).as("s"))
    val expected = o.join(agg, "o_custkey")
      .filter(col("o_totalprice").cast("decimal(20,4)") * 2 * col("n") > col("s") * 3)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("q42 typed top-k aggregator equals the rank-window formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{row_number, desc, asc, sum => fsum}
    val got = Relational.q42TopkAgg(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val s = graft.sources.Tables.events(spark, dir)
      .groupBy("event_type", "user_id")
      .agg(fsum(col("value").cast("decimal(20,4)")).cast("double").as("sv"))
    val w = Window.partitionBy("event_type").orderBy(desc("sv"), asc("user_id"))
    val expected = s.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy("event_type", "rk")
      .collect()
      .map(r => (r.getString(0), r.getInt(3).toLong, r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("q43 snapshot diff categorizes exactly the constructed deltas") {
    val got = Relational.q43SnapshotDiff(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byType = got.groupBy(_._2).view.mapValues(_.length).toMap
    // recompute the construction rule driver-side
    val o = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        graft.text.TextStats.hashBucket(col("o_orderkey")).as("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(byType("removed") == o.count(_._3 < 13))
    assert(byType("changed") == o.count(t => t._3 >= 13 && t._3 < 38))
    assert(byType("added") == o.count(_._3 >= 243))
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
  }

  test("q44/q45 roundtrips are lossless vs direct aggregation") {
    val json = Relational.q44JsonRoundtrip(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val directJson = graft.sources.Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("n_chars").cast("long").as("nc"))
      .orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(json == directJson && json.nonEmpty)
    val orc = Relational.q45OrcRoundtrip(spark, dir).collect()
    assert(orc.nonEmpty && orc.map(_.getLong(1)).sum ==
      graft.sources.Tables.lineitem(spark, dir).count())
  }

  test("q13 union-distinct is within nation key domain") {
    val keys = Relational.q13Union(spark, dir).collect().map(_.getInt(0))
    assert(keys.distinct.length == keys.length && keys.forall(k => k >= 0 && k < 25))
  }

  test("semi and anti partition the customer set") {
    val c = graft.sources.Tables.customer(spark, dir).count()
    val anti = Relational.q11Anti(spark, dir).count()
    val semi = c - anti // customers with ≥1 order
    assert(semi >= 0 && anti >= 0 && semi + anti == c)
  }

  test("approx_count_distinct within 5% of exact") {
    val r = Relational.approxDistinct(spark, sf("sf0.01")).head()
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("q35 grouping sets: exactly the two single-key subtotal families") {
    val rows = Relational.q35GroupingSets(spark, sf("sf0.001")).collect()
    // every row belongs to exactly one grouping set (one key null)
    rows.foreach(r => assert(r.isNullAt(0) != r.isNullAt(1)))
    // both subtotal families partition the same data → equal grand totals
    val byFlag = rows.filter(!_.isNullAt(0)).map(_.getDouble(2)).sum
    val byStatus = rows.filter(!_.isNullAt(1)).map(_.getDouble(2)).sum
    assert(math.abs(byFlag - byStatus) < 1e-6)
  }

  test("q36 scd2: contiguous versions, one current row, linked intervals") {
    // valid_from/valid_to compared generically (NTZ timestamps surface
    // as LocalDateTime)
    val rows = Relational.q36Scd2(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(3), Option(r.get(4)),
        r.getBoolean(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cust, vs) =>
      val sorted = vs.sortBy(_._2)
      // versions are 1..n with no gaps
      assert(sorted.map(_._2).toSeq == (1L to vs.length).toSeq, s"cust $cust")
      // exactly the last version is current (valid_to null)
      assert(sorted.count(_._4.isEmpty) == 1 && sorted.last._4.isEmpty)
      // each version's valid_to equals the next version's valid_from
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a._4.contains(b._3), s"cust $cust: interval chain broken")
      }
      // is_current mirrors valid_to IS NULL
      sorted.foreach(v => assert(v._5 == v._4.isEmpty))
    }
  }

  test("q46 unpivot melts each wide row into one row per metric") {
    val wide = Relational.q1Agg(spark, sf("sf0.001"))
      .select("l_returnflag").distinct().count()
    val long = Relational.q46Unpivot(spark, sf("sf0.001")).collect()
    assert(long.length == 3 * wide)
    // every (key, metric) cell appears exactly once
    val cells = long.map(r => (r.getString(0), r.getString(1)))
    assert(cells.distinct.length == cells.length)
    assert(cells.map(_._2).toSet == Set("sum_qty", "sum_price", "sum_disc"))
  }

  test("q48 interval merge: islands cover at least the longest interval, never more than the span") {
    import org.apache.spark.sql.functions._
    val iv = graft.sources.Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_suppkey").as("supp"),
        to_date(col("l_shipdate")).as("s"),
        date_add(to_date(col("l_shipdate")),
          (col("l_linenumber") % 7 + 1).cast("int")).as("e"))
      .groupBy("supp")
      .agg(count(lit(1)).as("n_iv"),
        (datediff(max("e"), min("s")) + 1).as("span_days"),
        (max(datediff(col("e"), col("s"))) + 1).as("longest"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getInt(3))).toMap
    val got = Relational.q48IntervalMerge(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (supp, nIslands, covered) =>
      val (nIv, span, longest) = iv(supp)
      assert(nIslands >= 1 && nIslands <= nIv)
      assert(covered >= longest && covered <= span,
        s"supp $supp: covered $covered outside [$longest, $span]")
    }
  }

  test("q49 histogram: complete mass, monotone CDF ending at 1") {
    import org.apache.spark.sql.functions._
    val h = Relational.q49Histogram(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).doubleValue))
    assert(h.nonEmpty && h.forall(b => b._1 >= 0 && b._1 <= 31))
    val total = graft.sources.Tables.events(spark, sf("sf0.001"))
      .filter(col("value").isNotNull).count()
    assert(h.map(_._2).sum == total)
    assert(h.last._3 == total && math.abs(h.last._4 - 1.0) < 1e-9)
    h.sliding(2).foreach {
      case Array(a, b) => assert(a._3 < b._3 && a._4 <= b._4)
      case _ =>
    }
  }

  test("q51 funnel: stage counts are monotone non-increasing") {
    val r = Relational.q51Funnel(spark, sf("sf0.001")).head()
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p, s"funnel not monotone: $v -> $c -> $p")
    assert(v > 0)
  }

  test("q52 retention: day-0 equals cohort size and bounds later offsets") {
    val rows = Relational.q52Retention(spark, sf("sf0.001")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall(r => r._2 >= 0 && r._2 <= 7))
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (day, rs) =>
      val d0 = rs.find(_._2 == 0L)
      // every cohort has a day-0 row (its members were active that day),
      // and no later offset exceeds the cohort's size
      assert(d0.isDefined, s"cohort $day missing day-0 row")
      rs.foreach(r => assert(r._3 <= d0.get._3, s"cohort $day offset ${r._2}"))
    }
  }

  test("q53 histogram quantiles bracket the exact percentiles") {
    import org.apache.spark.sql.functions._
    val approx = Relational.q53HistQuantiles(spark, sf("sf0.001")).collect()
      .map(r => (r.getDecimal(0).doubleValue, r.getDouble(2), r.getDouble(3)))
    assert(approx.map(_._1).toSeq == Seq(0.5, 0.9, 0.99))
    val exact = graft.sources.Tables.events(spark, sf("sf0.001"))
      .filter(col("value").isNotNull)
      .select(expr("percentile(value, array(0.5, 0.9, 0.99))"))
      .head().getSeq[Double](0)
    approx.zip(exact).foreach { case ((q, lo, hi), ex) =>
      assert(ex >= lo && ex <= hi, s"q=$q exact=$ex outside [$lo,$hi]")
    }
  }

  test("q54 missing days finds exactly the simulated outage days") {
    import org.apache.spark.sql.functions._
    val got = Relational.q54MissingDays(spark, sf("sf0.001")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)))
    assert(got.nonEmpty)
    // every reported day is one the filter dropped (dom % 7 == 3), and
    // none is outside the observed range (the anti-join's calendar ends
    // at the filtered max)
    got.foreach { case (day, dist) =>
      assert(day.split("-")(2).toInt % 7 == 3, s"$day not an outage day")
      assert(dist > 0)
    }
    val observed = graft.sources.Tables.events(spark, sf("sf0.001"))
      .select(to_date(col("ts")).as("day")).distinct()
      .filter(dayofmonth(col("day")) % 7 === 3)
      .collect().map(_.getDate(0).toString).toSet
    // the simulated outage days inside the range are exactly what's reported
    assert(got.map(_._1).toSet.subsetOf(observed))
  }

  test("q55 trending: ≤k dense-ranked types per hour, counts nonincreasing") {
    val got = Relational.q55Trending(spark, sf("sf0.001")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (h, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.length <= 3)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length))
      sorted.map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a >= b, s"hour $h counts not sorted")
        case _ =>
      }
    }
  }

  test("q56 A/B lift: complete partition, rates consistent with counts") {
    val r = Relational.q56AbLift(spark, sf("sf0.001")).head()
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val users = graft.sources.Tables.events(spark, sf("sf0.001"))
      .select("user_id").distinct().count()
    assert(na + nb == users)
    assert(ca <= na && cb <= nb)
    val rateA = r.getDecimal(4).doubleValue
    val rateB = r.getDecimal(5).doubleValue
    assert(math.abs(rateA - ca.toDouble / na) < 1e-6)
    assert(math.abs(rateB - cb.toDouble / nb) < 1e-6)
    assert(math.abs(r.getDecimal(6).doubleValue - (rateA - rateB)) < 2e-6)
  }

  test("q57 drift: cumulative deviations net to zero, drawdown nonnegative") {
    val got = Relational.q57VolumeDrift(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(1), r.getDecimal(2).doubleValue,
        r.getDecimal(3).doubleValue))
    assert(got.nonEmpty)
    // by construction the final cum_dev is Σn − days·mean ≈ 0 (mean
    // rounded to 6 dp → bounded by days · 5e-7)
    assert(math.abs(got.last._2) <= got.length * 5e-7 + 1e-9)
    got.foreach { case (_, _, dd) => assert(dd >= 0.0) }
  }

  test("q58 fuzzy join: every corrupted record resolves to its true source") {
    val got = Relational.q58FuzzyJoin(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // the one-char-dropped name is always nearest its own master row
    got.foreach { case (src, matched, dist, correct) =>
      assert(matched == src && correct == 1L, s"$src resolved to $matched")
      assert(dist == 1L, s"$src dist $dist") // exactly the dropped char
    }
  }

  test("q59 markov: rows per from-state sum to 1, counts match raw transitions") {
    val got = Relational.q59MarkovTransitions(spark, sf("sf0.001")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDecimal(3).doubleValue))
    assert(got.nonEmpty)
    // probabilities within each from-state sum to 1 (up to 6-dp rounding)
    got.groupBy(_._1).foreach { case (from, rows) =>
      val s = rows.map(_._4).sum
      assert(math.abs(s - 1.0) <= rows.length * 5e-7 + 1e-9, s"$from sums to $s")
      // each p is consistent with its count / state total
      val tot = rows.map(_._3).sum.toDouble
      rows.foreach { case (_, to, n, p) =>
        assert(math.abs(p - n / tot) < 1e-6, s"$from->$to")
      }
    }
    // total transitions = total events minus one per user with ≥1 event
    val e = graft.sources.Tables.events(spark, sf("sf0.001"))
    val nEvents = e.count()
    val nUsers = e.select("user_id").distinct().count()
    assert(got.map(_._3).sum == nEvents - nUsers)
  }

  test("q60 paths: trigram totals match per-user lengths, top-k ordered") {
    val all = Relational.q60EventPaths(spark, sf("sf0.001"), k = 1000000).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    // every user with n events contributes exactly max(0, n-2) trigrams
    val perUser = graft.sources.Tables.events(spark, sf("sf0.001"))
      .groupBy("user_id").count().collect().map(_.getLong(1))
    assert(all.map(_._4).sum == perUser.map(n => math.max(0L, n - 2)).sum)
    val top = Relational.q60EventPaths(spark, sf("sf0.001"), k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(top.length == 10)
    assert(top.sameElements(
      all.sortBy(t => (-t._4, t._1, t._2, t._3)).take(10)))
  }

  test("q62 scd2: per-user intervals tile, states alternate, one open tail") {
    val got = Relational.q62Scd2Compress(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (user, segs) =>
      val s = segs.sortBy(_._2)
      assert(s.map(_._2).toSeq == (1L to s.length).toSeq, s"user $user seg ids")
      // exactly one open (NULL valid_to) interval — the last
      assert(s.init.forall(_._5.isDefined) && s.last._5.isEmpty, s"user $user tail")
      // intervals tile: each segment closes where the next opens
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $user gap at seg ${a._2}")
          assert(a._3 != b._3, s"user $user consecutive equal states")
        case _ =>
      }
    }
    // compression is lossless on run count: segments = 1 + state changes
    val raw = graft.sources.Tables.events(spark, sf("sf0.001"))
      .select("user_id", "event_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3).getTime / 1000 * 1000000L +
          r.getTimestamp(3).getNanos / 1000)) // micro-exact tie order
    val expect = raw.groupBy(_._1).view.mapValues { rows =>
      val types = rows.sortBy(r => (r._4, r._2)).map(_._3)
      1 + types.sliding(2).count { case Array(x, y) => x != y; case _ => false }
    }
    got.groupBy(_._1).foreach { case (u, segs) =>
      assert(segs.length == expect(u), s"user $u run count")
    }
  }

  test("q63 MAD: medians bracket data, outliers match a driver-side recount") {
    val got = Relational.q63MadOutliers(spark, sf("sf0.001")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    val raw = graft.sources.Tables.events(spark, sf("sf0.001"))
      .select("event_type", "value").na.drop().collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    got.foreach { case (et, n, med, mad, nOut) =>
      val vals = raw.filter(_._1 == et).map(_._2).toSeq
      assert(n == vals.length)
      val m0 = median(vals)
      val d0 = median(vals.map(v => math.abs(v - m0)))
      assert(math.abs(med - m0) < 1e-6 && math.abs(mad - d0) < 1e-6, et)
      val expect = vals.count(v => math.abs(v - m0) > 3.0 * 1.4826 * d0)
      assert(nOut == expect, s"$et outliers $nOut vs $expect")
      assert(nOut < n / 10, s"$et flags too much") // robust cut is selective
    }
  }

  test("GraftExtensions injects vector_dot_exact via SparkSessionExtensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    // builder wired: the Column entry point builds its expression with the
    // same builder the extension injects; evaluate it
    import spark.implicits._
    val d = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .select(graft.functions.VectorDotExact(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")))
      .head().getDouble(0)
    assert(d == 11.0)
  }

  test("q72 dq audit: all seven checks present, counts match driver recounts") {
    val rows = Relational.q72DqAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set(
      "orders_null_custkey", "orders_dup_orderkey", "orders_future_date",
      "lineitem_nonpositive_qty", "lineitem_discount_range",
      "customer_dup_custkey", "lineitem_orphan_orderkey"))
    assert(rows.values.forall(_ >= 0))
    // referential check agrees with an independent except-based recount
    val l = graft.sources.Tables.lineitem(spark, dir).select("l_orderkey")
    val o = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"))
    val orphans = l.exceptAll(l.join(o, Seq("l_orderkey"), "left_semi")).count()
    assert(rows("lineitem_orphan_orderkey") == orphans)
  }

  test("q70 regional revenue: local-supplier predicate holds, revenue consistent") {
    val rows = Relational.q70RegionalRevenue(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, rev, n) => rev > 0 && n > 0 })
    // sorted by revenue desc
    val revs = rows.map(_._2)
    assert(revs.sameElements(revs.sorted.reverse))
    // every contributing nation must belong to the filtered region
    val asiaNations = graft.sources.Tables.nation(spark, dir)
      .join(graft.sources.Tables.region(spark, dir)
        .filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(rows.map(_._1).forall(asiaNations))
  }

  test("q71 shipping priority: 10 rows, orders straddle the cutoff") {
    val rows = Relational.q71ShippingPriority(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getDouble(2)))
    assert(rows.length == 10)
    val revs = rows.map(_._3)
    assert(revs.sameElements(revs.sorted.reverse))
    assert(rows.forall(_._2.toString < "1998-06-30")) // ordered before cutoff
  }

  test("q67 ntile: deciles 1..10, rank ratios in [0,1], cume tops out at 1") {
    val rows = Relational.q67Ntile(spark, dir).collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Int]("decile"),
        r.getDecimal(3).doubleValue, r.getDecimal(4).doubleValue))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, d, pr, cd) =>
      d >= 1 && d <= 10 && pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0 })
    rows.groupBy(_._1).foreach { case (prio, g) =>
      assert(g.map(_._4).max == 1.0, s"$prio cume_dist never reaches 1")
      // deciles within a priority are balanced to ±1 row
      val sizes = g.groupBy(_._2).map(_._2.length)
      assert(sizes.max - sizes.min <= 1, s"$prio deciles unbalanced: $sizes")
    }
  }

  test("q68 forward fill matches a driver-side per-user replay") {
    val got = Relational.q68ForwardFill(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val raw = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    val expected = raw.groupBy(_._1).flatMap { case (_, evs) =>
      var lastSeen = -1.0
      evs.sortBy(e => (e._3, e._2)).map { e =>
        if (e._4 == "purchase") lastSeen = e._5
        (e._1, e._2, e._3, lastSeen)
      }.toSeq
    }.toSet
    assert(got.length == raw.length && got.toSet == expected)
  }

  test("q79 dynamic overwrite replaces ONLY the backfilled partition's files") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def partFiles(base: String, day: String): Set[String] = {
      val p = Paths.get(base, s"day=$day")
      if (!Files.isDirectory(p)) Set.empty
      else {
        val st = Files.list(p)
        try st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
        finally st.close()
      }
    }
    val ev = graft.sources.Tables.events(spark, dir)
      .select(org.apache.spark.sql.functions.to_date(col("ts")).as("day"),
        col("event_id"), col("event_type"))
    val days = ev.select("day").distinct().collect().map(_.getDate(0).toString).sorted
    assume(days.length >= 2, "needs >= 2 day partitions for a control day")
    val (minDay, otherDay) = (days.head, days.last)
    val tmp = graft.sources.Artifacts.path("q79_spec")
    ev.write.mode("overwrite").partitionBy("day").parquet(tmp)
    val beforeOther = partFiles(tmp, otherDay)
    val beforeMin = partFiles(tmp, minDay)
    assert(beforeOther.nonEmpty && beforeMin.nonEmpty)
    // per-write option (session conf untouched — the r13 hygiene rule);
    // this is the same helper the q79 engine path writes through
    Relational.dynamicOverwrite(
        ev.filter(col("day") === minDay && col("event_type") =!= "view").write)
      .partitionBy("day").parquet(tmp)
    // untouched partition: byte-identical file set; backfilled: new files
    assert(partFiles(tmp, otherDay) == beforeOther,
      "non-target partition files changed under dynamic overwrite")
    assert(partFiles(tmp, minDay) != beforeMin, "target partition not rewritten")
    // and the readback sees the reduced day
    val n = spark.read.parquet(tmp).filter(col("day") === minDay).count()
    val expected = ev.filter(col("day") === minDay &&
      col("event_type") =!= "view").count()
    assert(n == expected)
  }

  test("q88 userEwma matches hand computation; half-up ties are pinned") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // user 1: values 1.00, 2.00, 4.00 oldest→newest → weights 1/4, 1/2, 1
    //   decay_sum = 0.25 + 1 + 4 = 5.25; Σw = 1.75; ewma = 3.0 exactly
    // user 2: 6 events, only the OLDEST (k = 5) nonzero at 6.55:
    //   655·10⁴/2⁵ = 204687.5 micro — an exact half-tie, must round UP
    val ev = (Seq(
      (1L, ts(1), 1L, 1.00), (2L, ts(2), 1L, 2.00), (3L, ts(3), 1L, 4.00),
      (10L, ts(1), 2L, 6.55)) ++
      (11L to 15L).map(i => (i, ts(i.toInt - 9 + 1), 2L, 0.00)))
      .toDF("event_id", "ts", "user_id", "value")
    val got = Relational.userEwma(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        r.getDecimal(2).doubleValue, r.getDecimal(3).doubleValue)).toMap
    assert(got(1L) == ((3L, 3.0, 5.25)), s"user 1: ${got(1L)}")
    assert(got(2L)._1 == 6L)
    assert(got(2L)._3 == 0.204688,
      s"half-tie must round up (204687.5 → 204688 micro): ${got(2L)}")
  }

  test("q88 userEwma: newest event dominates; permutation-invariant input order") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val rows = Seq(
      (1L, ts(1), 1L, 100.00), (2L, ts(2), 1L, 0.00), (3L, ts(3), 1L, 8.00))
    val a = Relational.userEwma(rows.toDF("event_id", "ts", "user_id", "value"))
      .collect().head
    val b = Relational.userEwma(rows.reverse.toDF("event_id", "ts", "user_id", "value"))
      .collect().head
    assert(a.toSeq == b.toSeq, "input row order must not matter")
    // ewma = (25 + 0 + 8)/1.75 — the newest event's weight-1 value
    // dominates the 4x-larger but 2-steps-older one
    assert(a.getDecimal(2).doubleValue == 18.857143)
  }

  test("q91 priority check: semi-join counts each order once (distinct-join recount)") {
    import org.apache.spark.sql.functions.{countDistinct, expr, lit}
    val got = Relational.q91PriorityCheck(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // EXISTS recount via inner join + distinct orderkeys: a multi-slow-
    // lineitem order must still count exactly once
    val o = graft.sources.Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-04-01"))
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    val expected = o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_orderkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"semi-join vs distinct-join recount: $got vs $expected")
    assert(got.values.sum > 0, "window/lateness must select some orders at sf0.001")
  }

  test("q95 k-anonymity: class sizes and violation flags on real data") {
    val rows = Relational.q95KAnonymity(spark, sf("sf0.001"), k = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // row mass conserves: every customer lands in exactly one QI class
    val total = graft.sources.Tables.customer(spark, sf("sf0.001")).count()
    assert(rows.map(_._3).sum == total)
    // the flag is exactly (n < k), no off-by-one at the boundary
    assert(rows.forall { case (_, _, n, v) => v == (if (n < 10) 1L else 0L) },
      rows.filterNot { case (_, _, n, v) => v == (if (n < 10) 1L else 0L) }.mkString(","))
    assert(rows.nonEmpty)
  }
}
