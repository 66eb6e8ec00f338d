package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Exact DECIMAL scale-16 quantization of doubles as long fixed point —
  * the one primitive behind every exact vector kernel ([[VectorDotExact]],
  * [[LshBucketsExact]], [[QuantizeInt8]]'s norm) and s18's covariance.
  *
  * Contract: [[units]]`(v)` is the unscaled value of
  * `BigDecimal.valueOf(v).setScale(16, HALF_UP)` — v rounded to units of
  * 1e-16 through its `Double.toString` decimal, the quantization Spark's
  * `Cast(double→decimal)` applies and the DuckDB oracles'
  * `SUM(CAST(x*y AS DECIMAL(32,16)))` sums. A [[Sum]] of such units is
  * exact, so it is bit-identical to the BigDecimal accumulation it
  * replaces, whatever the element order.
  *
  * Fast path (allocation-free): write |v| = m·2^e with a 53-bit m. Then
  * |v|·1e16 = m·5^16 · 2^−s with s = −(e+16), so the 128-bit product
  * m·5^16 (`Math.multiplyHigh`) shifted right by s is the integer part q
  * of the exact value in units, and the shifted-out bits its fraction.
  * `Double.toString(v)` always parses back to v, so the decimal it prints
  * lies in v's rounding interval, at most half an ulp from v. When no
  * half-unit boundary (k+½)·1e-16 lies within half an ulp (+1 in the
  * truncated 64-bit fraction) of v, every point of that interval — the
  * exact value and whatever string is printed — rounds HALF_UP to the
  * same integer, which is then q or q+1 by the fraction alone. No
  * rounding decision is ever made inside that window: there the element
  * takes the BigDecimal path itself, as do |v| ≥ 0.5 (an ulp spans a
  * whole unit there), NaN and ±Inf. Below 2^−55 the whole rounding
  * interval is under half a unit, so the answer is 0 (±0 and subnormals
  * included). On unit-norm 64-dim float vectors the window catches
  * 2–5% of element products.
  */
object Exact16 {
  /** 5^16 — with 2^16, the factors of 1e16. */
  private final val Five16 = 152587890625L

  /** [[units]]'s answer when v's units do not fit a long or v is not finite. */
  final val NoUnits = Long.MinValue

  /** `BigDecimal.valueOf(v).setScale(16, HALF_UP)` — the reference path. */
  private def decimal(v: Double): JBigDecimal =
    JBigDecimal.valueOf(v).setScale(16, RoundingMode.HALF_UP)

  /** Unscaled value of `BigDecimal.valueOf(v).setScale(16, HALF_UP)`,
    * or [[NoUnits]]; see object doc. */
  def units(v: Double): Long = {
    val u = fastUnits(v)
    if (u != NoUnits) u else slowUnits(v)
  }

  /** [[units]] without allocating, or [[NoUnits]] where the value needs
    * the BigDecimal path (the boundary window, |v| ≥ 0.5, non-finite). */
  private[functions] def fastUnits(v: Double): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(v)
    val be = ((bits >>> 52) & 0x7ff).toInt
    if (be < 968) return 0L // |v| < 2^-55
    if (be > 1021) return NoUnits // |v| >= 0.5, NaN, ±Inf
    val m = (bits & 0xfffffffffffffL) | (1L << 52)
    val s = 1059 - be // in [38, 91]
    val hi = Math.multiplyHigh(m, Five16)
    val lo = m * Five16
    var q = 0L
    var frac = 0L // top 64 bits of the fraction
    if (s < 64) { q = (hi << (64 - s)) | (lo >>> s); frac = lo << (64 - s) }
    else if (s == 64) { q = hi; frac = lo }
    else { q = hi >>> (s - 64); frac = (hi << (128 - s)) | (lo >>> (s - 64)) }
    // fraction − ½ and half an ulp, both in units of 2^-64 units; the +2
    // covers rounding the half ulp up and the fraction's truncation
    val g = frac ^ Long.MinValue
    val lim = ((Five16 << 25) >> (s - 38)) + 2
    if (g >= -lim && g <= lim) return NoUnits
    // round up iff g > 0, then apply the sign: both are coin flips on
    // real data, so they are computed without branches
    val u = q + 1 - (g >>> 63)
    val sign = bits >> 63
    (u ^ sign) - sign
  }

  private def slowUnits(v: Double): Long =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) NoUnits
    else {
      val u = decimal(v).unscaledValue()
      if (u.bitLength() < 64) u.longValue() else NoUnits
    }

  /** Exact sum of scale-16 quantized terms: a long of units while it fits,
    * the BigDecimal sum from the first term that would overflow it (or
    * has no units) on. `fn` names the caller in the error a non-finite
    * term raises. */
  final class Sum(fn: String) {
    private var acc = 0L
    private var big: JBigDecimal = null

    /** Add v's scale-16 quantization; `i` is the element index the error names. */
    def add(v: Double, i: Int): Unit =
      if (big == null) {
        val u = units(v)
        val s = acc + u
        if (u != NoUnits && ((acc ^ s) & (u ^ s)) >= 0) acc = s
        else addBig(v, i)
      } else addBig(v, i)

    private def addBig(v: Double, i: Int): Unit = {
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v))
        throw new IllegalArgumentException(
          s"$fn: the product at element $i is $v; vector elements must be finite")
      if (big == null) big = JBigDecimal.valueOf(acc, 16)
      big = big.add(decimal(v))
    }

    def reset(): Unit = { acc = 0L; big = null }

    def signum: Int = if (big == null) java.lang.Long.signum(acc) else big.signum()

    def toBigDecimal: JBigDecimal = if (big == null) JBigDecimal.valueOf(acc, 16) else big

    /** The sum rounded to the nearest double, as `BigDecimal.doubleValue`
      * rounds it (whose own fast path is this same exact division). */
    def toDouble: Double =
      if (big == null && Math.abs(acc) < (1L << 52)) acc.toDouble / 1e16
      else toBigDecimal.doubleValue()
  }
}
