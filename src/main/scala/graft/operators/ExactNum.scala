package graft.operators

import java.math.BigInteger
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-agnostic exact summation of doubles — the ONE definition of
  * the quantize-then-sum idiom used by every order-dependent aggregate
  * (MtmEngine 1e-9 pnl units, Analytics/StreamingJobs 1e-6 price units,
  * SignalCompression's closed-form cumulative): `Column` forms for Spark
  * plans, and [[unitsOf]]/[[RunningSum]] for the MTM kernel's in-walk
  * summary fold.
  *
  * Why this shape: floor(x·scale + 0.5) is pure IEEE arithmetic and
  * therefore bit-identical in every engine, unlike a double→DECIMAL cast
  * (Spark rounds the double's shortest decimal representation half-up;
  * DuckDB rounds the exact binary expansion — tie-boundary values
  * diverge, observed live at sf0.1). The DECIMAL(30,0) accumulator keeps
  * the sum exact AND overflow-safe: an int64 accumulator would silently
  * wrap around 2^63 (≈9.2e18 units — reachable by a mega-symbol at
  * 100 TB), while DuckDB's BIGINT sums promote to HUGEINT; both engines'
  * wide accumulators agree exactly.
  */
private[graft] object ExactNum {

  /** 2^63: the first |x·scale + 0.5| that no longer floors to a Long. */
  private final val UnitsLimit = 9.223372036854776e18

  /** floor(x·scale + 0.5) as a DECIMAL(30,0) unit count.
    *
    * Per-row range: |x|·scale must stay below 2^63 — Spark's long-valued
    * `floor` would silently saturate at Long.MaxValue there while the
    * DuckDB oracle's DECIMAL cast raises. A value that large is already
    * corrupt at every supported scale (1e9 units ⇒ |x| ≥ 9.2e9 of a
    * price-normalized ratio), so fail loudly on both engines instead.
    */
  def units(c: Column, scale: Double): Column = {
    val scaled = c * lit(scale) + lit(0.5)
    when(abs(scaled) >= lit(UnitsLimit),
      raise_error(concat(
        lit(s"ExactNum.units overflow at scale $scale: "), scaled.cast("string"))))
      .otherwise(floor(scaled))
      .cast("decimal(30,0)")
  }

  /** [[units]] of one double, for code that folds rows itself (the MTM
    * kernel): the same IEEE expression, and the same loud failure where
    * the `Column` form raises — |x·scale + 0.5| ≥ 2^63, NaN included.
    */
  def unitsOf(x: Double, scale: Double): Long = {
    val scaled = x * scale + 0.5
    if (!(math.abs(scaled) < UnitsLimit))
      throw new ArithmeticException(s"ExactNum.units overflow at scale $scale: $scaled")
    math.floor(scaled).toLong
  }

  /** An exact running sum of unit counts, with its running peak (floored
    * at 0) and the largest fall below that peak — the scalar twin of a
    * DECIMAL(30,0) `sum(units)` window. Long arithmetic until a step
    * overflows, BigInteger from then on: it never wraps.
    */
  final class RunningSum {
    private var sum, peak, fall = 0L
    private var wSum, wPeak, wFall: BigInteger = _ // set once a Long step overflows

    def add(units: Long): Unit =
      if (wSum == null) {
        try {
          val s = Math.addExact(sum, units)
          val p = math.max(peak, s)
          val f = Math.subtractExact(p, s)
          sum = s; peak = p; if (f > fall) fall = f
        } catch {
          case _: ArithmeticException =>
            wSum = BigInteger.valueOf(sum); wPeak = BigInteger.valueOf(peak)
            wFall = BigInteger.valueOf(fall)
            add(units)
        }
      } else {
        wSum = wSum.add(BigInteger.valueOf(units))
        wPeak = wPeak.max(wSum)
        wFall = wFall.max(wPeak.subtract(wSum))
      }

    /** The sum back to double, as [[toDouble]] does: one division. */
    def total(scale: Double): Double =
      (if (wSum == null) sum.toDouble else wSum.doubleValue) / scale

    /** The largest fall below the running peak, back to double. */
    def maxFall(scale: Double): Double =
      (if (wSum == null) fall.toDouble else wFall.doubleValue) / scale
  }

  /** An exact unit sum back to double — one division at the end. */
  def toDouble(sumUnits: Column, scale: Double): Column =
    sumUnits.cast("double") / lit(scale)

  /** Exact, order-independent, engine-agnostic sum of a double column. */
  def sumExact(c: Column, scale: Double): Column =
    toDouble(sum(units(c, scale)), scale)
}
