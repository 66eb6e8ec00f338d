package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** [[Exact16]] against the BigDecimal path it replaces: the primitive
  * unit for unit, the three kernels built on it bit for bit against the
  * per-element BigDecimal loops they used to be, the fast path's miss
  * rate, and the named error a non-finite product raises through SQL. */
class Exact16Spec extends SparkSpec {

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n)
        .withInitialSeed(org.scalacheck.rng.Seed(16L)), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- the reference: BigDecimal.valueOf + setScale(16, HALF_UP) ----

  private def dec(v: Double): JBigDecimal =
    JBigDecimal.valueOf(v).setScale(16, RoundingMode.HALF_UP)

  private def refUnits(v: Double): Long =
    if (v.isNaN || v.isInfinite) Exact16.NoUnits
    else {
      val u = dec(v).unscaledValue()
      if (u.bitLength < 64) u.longValue else Exact16.NoUnits
    }

  private def agrees(v: Double): Boolean = {
    val ok = Exact16.units(v) == refUnits(v)
    if (!ok) info(s"mismatch at $v (bits ${java.lang.Double.doubleToRawLongBits(v)}): " +
      s"${Exact16.units(v)} != ${refUnits(v)}")
    ok
  }

  private def lcgWeight(idx: Long): Double =
    ((idx * 1103515245L + 12345L) % 2097152L).toDouble / 2097152.0 - 0.5

  private val signed: Gen[Double] => Gen[Double] =
    g => for (v <- g; neg <- Gen.oneOf(false, true)) yield if (neg) -v else v

  private val smallFloat: Gen[Float] = Gen.choose(-0.5f, 0.5f)

  // ---- the primitive ----

  test("units equals BigDecimal.valueOf(v).setScale(16, HALF_UP) on random bit patterns 2^-90..2^12") {
    val gen = signed(for {
      be <- Gen.choose(1023 - 90, 1023 + 12)
      m <- Gen.choose(0L, (1L << 52) - 1)
    } yield java.lang.Double.longBitsToDouble((be.toLong << 52) | m))
    check(Prop.forAll(gen)(agrees), 200000)
  }

  test("units agrees on float×float, float×float² and float×LCG-weight products") {
    check(Prop.forAll(smallFloat, smallFloat)((x, y) => agrees(x.toDouble * y)), 100000)
    check(Prop.forAll(smallFloat, smallFloat)((x, y) =>
      agrees(x.toDouble * (y.toDouble * y))), 100000)
    check(Prop.forAll(smallFloat, Gen.choose(0L, 1L << 32))((x, idx) =>
      agrees(x.toDouble * lcgWeight(idx))), 100000)
  }

  test("units agrees within ±3 ulps of every half-unit boundary (k+½)·1e-16") {
    val gen = signed(for {
      shift <- Gen.choose(1, 62)
      k <- Gen.choose(0L, Long.MaxValue).map(_ >>> shift)
      d <- Gen.choose(-3, 3)
    } yield {
      var t = JBigDecimal.valueOf(k).add(new JBigDecimal("0.5")).movePointLeft(16).doubleValue()
      (0 until math.abs(d)).foreach(_ => t = if (d < 0) Math.nextDown(t) else Math.nextUp(t))
      t
    })
    check(Prop.forAll(gen)(agrees), 200000)
    // doubles that print as an exact half (…5 in the 17th decimal) while
    // their exact binary value lies below it: rounding the exact value
    // would give one unit less than BigDecimal.valueOf does
    Seq(0.02065591301277825, 0.03214332317966795, 0.01006577366431255,
      -0.02861699148103325, 0.01573205043285375).foreach { v =>
      assert(new JBigDecimal(v).compareTo(JBigDecimal.valueOf(v)) != 0)
      assert(Exact16.fastUnits(v) == Exact16.NoUnits, s"$v must take the BigDecimal path")
      assert(agrees(v))
    }
  }

  test("units agrees on powers of two, subnormals, ±0 and non-finite values") {
    val pows = (-1074 to 20).flatMap { e =>
      val p = math.pow(2.0, e)
      Seq(p, Math.nextDown(p), Math.nextUp(p))
    }
    val specials = Seq(0.0, -0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      Math.nextDown(java.lang.Double.MIN_NORMAL), 1e-300, 5e-17, 4.9999999999999996e-17,
      0.5, Math.nextDown(0.5), 0.25, Math.nextDown(0.25), 1.0, Double.MaxValue)
    (pows ++ specials).flatMap(v => Seq(v, -v)).foreach(v => assert(agrees(v)))
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { v =>
      assert(Exact16.units(v) == Exact16.NoUnits)
    }
  }

  test("units reports NoUnits exactly where the scale-16 units overflow a long") {
    val edge = 922.3372036854775 // 9.223372036854775e18 units: the last that fit
    Seq(edge, Math.nextUp(edge), 923.0, 1e4, 1e10, 1e300).flatMap(v => Seq(v, -v))
      .foreach(v => assert(agrees(v)))
    assert(Exact16.units(edge) != Exact16.NoUnits)
    assert(Exact16.units(1e4) == Exact16.NoUnits)
  }

  // ---- the kernels against their pre-Exact16 BigDecimal loops ----

  private def refDot(a: Array[Double], b: Array[Double]): Double = {
    var acc = JBigDecimal.ZERO
    (0 until math.min(a.length, b.length)).foreach(i => acc = acc.add(dec(a(i) * b(i))))
    acc.doubleValue()
  }

  private def refBuckets(a: Array[Double], l: Int, p: Int, dims: Int): Seq[Long] = {
    val n = math.min(dims, a.length)
    (0 until l).map { t =>
      (0 until p).foldLeft(0L) { (bucket, pp) =>
        val base = (t.toLong * p + pp) * dims
        var acc = JBigDecimal.ZERO
        (0 until n).foreach(d => acc = acc.add(dec(a(d) * lcgWeight(base + d))))
        if (acc.signum() >= 0) bucket | (1L << pp) else bucket
      }
    }
  }

  private def refQuantize(a: Array[Double]): Seq[Long] = {
    var acc = JBigDecimal.ZERO
    a.foreach(x => acc = acc.add(dec(x * x)))
    val nrm = math.sqrt(acc.doubleValue())
    if (nrm == 0.0) a.map(_ => 0L).toSeq
    else a.map(x => JBigDecimal.valueOf(x / nrm * 127.0)
      .setScale(0, RoundingMode.HALF_UP).longValue()).toSeq
  }

  /** Run all three kernels on `v` (as float and as double arrays) and
    * compare with the reference loops bit for bit. */
  private def kernelsAgree(v: Array[Float], w: Array[Float]): Boolean = {
    val vd = v.map(_.toDouble)
    val wd = w.map(_.toDouble)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val dotF = VectorDotExact.dot(ArrayData.toArrayData(v), ArrayData.toArrayData(w), true, true)
    val dotD = VectorDotExact.dot(ArrayData.toArrayData(vd), ArrayData.toArrayData(w), false, true)
    val bF = LshBucketsExact.buckets(ArrayData.toArrayData(v), true, 3, 5, v.length)
      .toLongArray().toSeq
    val bD = LshBucketsExact.buckets(ArrayData.toArrayData(vd), false, 2, 63, v.length + 1)
      .toLongArray().toSeq
    val q = QuantizeInt8.quantize(ArrayData.toArrayData(v), true).toLongArray().toSeq
    val ok = bits(dotF) == bits(refDot(vd, wd)) && bits(dotD) == bits(refDot(vd, wd)) &&
      bF == refBuckets(vd, 3, 5, v.length) && bD == refBuckets(vd, 2, 63, v.length + 1) &&
      q == refQuantize(vd)
    if (!ok) info(s"kernel mismatch on ${v.length}-element vectors")
    ok
  }

  test("VectorDotExact, LshBucketsExact and QuantizeInt8 equal their BigDecimal loops bit for bit") {
    val vec = Gen.choose(0, 96).flatMap(n => Gen.listOfN(n, smallFloat).map(_.toArray))
    check(Prop.forAll(vec, vec)(kernelsAgree), 300)
    // empty rows: dot 0.0, no codes, every projection sum 0 → all bits set
    assert(kernelsAgree(Array.empty, Array.empty))
    assert(LshBucketsExact.buckets(ArrayData.toArrayData(Array.empty[Float]), true, 2, 4, 8)
      .toLongArray().toSeq == Seq(15L, 15L))
  }

  test("rows of more than 4096 elements whose sum overflows a long finish exactly") {
    // 0.7² ≈ 0.49 per element: the long overflows after ~1900 elements
    val big = Array.fill(5000)(0.7f)
    assert(kernelsAgree(big, big))
    // per-element BigDecimal products (|x·y| ≥ 0.5, then beyond a long)
    // mixed with fast ones, positive and negative
    val mixed = Array.tabulate(6000)(i => if (i % 7 == 0) 3000.5f else if (i % 2 == 0) 0.3f else -1.7f)
    assert(kernelsAgree(mixed, mixed.reverse))
    val sum = new Exact16.Sum("test")
    (0 until 5000).foreach(i => sum.add(0.49, i))
    assert(sum.toBigDecimal.compareTo(new JBigDecimal("2450")) == 0)
    assert(sum.toDouble == 2450.0 && sum.signum == 1)
  }

  test("fast-path miss rate stays under 10% per element on unit-norm 64-dim float vectors") {
    val rnd = new scala.util.Random(64)
    def unit(): Array[Float] = {
      val g = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(g.map(x => x * x).sum)
      g.map(x => (x / n).toFloat)
    }
    val vs = Array.fill(2000)(unit())
    def missRate(products: Iterator[Double]): Double = {
      var miss = 0L
      var all = 0L
      products.foreach { p => all += 1; if (Exact16.fastUnits(p) == Exact16.NoUnits) miss += 1 }
      miss.toDouble / all
    }
    val xy = missRate(vs.iterator.sliding(2).flatMap { case Seq(a, b) =>
      a.indices.iterator.map(d => a(d).toDouble * b(d)) })
    val xx = missRate(vs.iterator.flatMap(a => a.iterator.map(x => x.toDouble * x)))
    val xw = missRate(vs.iterator.zipWithIndex.flatMap { case (a, i) =>
      a.indices.iterator.map(d => a(d).toDouble * lcgWeight(i.toLong * 64 + d)) })
    info(f"miss rates: x·y $xy%.4f, x·x $xx%.4f, x·w $xw%.4f")
    Seq(xy, xx, xw).foreach(r => assert(r <= 0.10, s"miss rate $r"))
  }

  // ---- named errors through SQL ----

  test("a NaN or infinite element product fails with an error naming the function and element") {
    VectorDotExact.register(spark)
    LshBucketsExact.register(spark)
    QuantizeInt8.register(spark)
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType)), StructField("f", ArrayType(FloatType))))
    // an RDD source, so the projection runs as generated code in a task
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Seq(1.0, Double.NaN, 2.0), Seq(1.0f, 2.0f, Float.PositiveInfinity)))), schema)
    def failure(sql: String): String = {
      val e = intercept[Exception](df.selectExpr(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $e"))
    }
    val dot = failure("graft_vector_dot_exact(a, a)")
    assert(dot.contains("graft_vector_dot_exact") && dot.contains("element 1"), dot)
    val lsh = failure("graft_lsh_buckets_exact(f, 2, 3, 3)")
    assert(lsh.contains("graft_lsh_buckets_exact") && lsh.contains("element 2"), lsh)
    val q8 = failure("graft_quantize_int8(a)")
    assert(q8.contains("graft_quantize_int8") && q8.contains("element 1"), q8)
  }
}
