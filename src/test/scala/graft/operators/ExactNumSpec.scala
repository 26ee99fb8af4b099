package graft.operators

import graft.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** `ExactNum.unitsOf` (the MTM kernel's per-row quantization) must equal
  * the `Column` form `ExactNum.units` value for value, and fail exactly
  * where it fails.
  */
class ExactNumSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Sessions.local("4")

  private val twoTo63 = 9.223372036854775808e18

  /** The `Column` form over a one-row executed plan (not constant-folded). */
  private def columnUnits(x: Double, scale: Double): Try[BigInt] = {
    import spark.implicits._
    Try(Seq(x).toDF("x").repartition(1)
      .select(ExactNum.units(col("x"), scale)).head().getDecimal(0))
      .map(d => BigInt(d.toBigIntegerExact))
  }

  test("scalar unitsOf equals the Column form, failures included") {
    val cases: Seq[(Double, Double)] = Seq(
      (Double.NaN, 1e9), (0.0, 1e9), (-0.0, 1e9), (-0.0, 1.0),
      (-1.25e-9, 1e9), (-3.7, 1e9), (-3.7, 1e6), (123.456789, 1e9),
      // exact half-unit ties round up (floor(x + 0.5)) on both sides
      (0.5, 1.0), (-0.5, 1.0), (1.5, 1.0), (-1.5, 1.0), (2.5, 1.0), (-2.5, 1.0),
      (2.5e-9, 1e9), (-2.5e-9, 1e9), (5e-7, 1e6), (-5e-7, 1e6),
      // |x·scale| just below and at/above 2^63
      (Math.nextDown(twoTo63), 1.0), (-Math.nextDown(twoTo63), 1.0),
      (twoTo63, 1.0), (-twoTo63, 1.0), (Math.nextUp(twoTo63), 1.0),
      (9.223372036854775e9, 1e9), (-9.223372036854775e9, 1e9),
      (9.223372036854777e9, 1e9), (-9.223372036854777e9, 1e9),
      (Double.PositiveInfinity, 1e9), (Double.NegativeInfinity, 1e9))
    for ((x, scale) <- cases) {
      val col = columnUnits(x, scale)
      val scalar = Try(BigInt(ExactNum.unitsOf(x, scale)))
      assert(col.isSuccess == scalar.isSuccess,
        s"x=$x scale=$scale: Column $col vs scalar $scalar")
      if (col.isSuccess) assert(col.get == scalar.get, s"x=$x scale=$scale")
      else assert(scalar.failed.get.isInstanceOf[ArithmeticException], s"x=$x scale=$scale")
    }
    // the boundary cases really sit on both sides of the failure
    assert(Try(ExactNum.unitsOf(Math.nextDown(twoTo63), 1.0)).isSuccess)
    assert(Try(ExactNum.unitsOf(twoTo63, 1.0)).isFailure)
    assert(Try(ExactNum.unitsOf(9.223372036854775e9, 1e9)).isSuccess)
    assert(Try(ExactNum.unitsOf(9.223372036854777e9, 1e9)).isFailure)
    assert(Try(ExactNum.unitsOf(Double.NaN, 1e9)).isFailure)
  }

  test("RunningSum stays exact past 2^63 and tracks the fall below the peak") {
    val big = 5000000000000000000L
    val s = new ExactNum.RunningSum
    Seq(big, big, -big, -big, -big).foreach(s.add)
    // cum: 5e18, 1e19 (past 2^63), 5e18, 0, -5e18; peak 1e19
    assert(s.total(1.0) == -5e18)
    assert(s.maxFall(1.0) == 1.5e19)
    val t = new ExactNum.RunningSum
    Seq(3L, -5L, 4L).foreach(t.add)
    // the peak is floored at 0: the first fall is from 3 to -2
    assert(t.total(1.0) == 2.0 && t.maxFall(1.0) == 5.0)
  }
}
