package graft

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Round4

/** Round4 against the BigDecimal path of Spark's `round(x, 4)`, raw bits
  * compared. */
class Round4Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  /** Spark's `round(double, 4)`: NaN and ±Inf pass through, everything
    * else goes through `BigDecimal.valueOf(x).setScale(4, HALF_UP)`. */
  private def reference(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def mismatches(xs: Iterator[Double]): Seq[Double] =
    xs.filter(x => doubleToRawLongBits(Round4.round(x)) !=
      doubleToRawLongBits(reference(x))).take(5).toSeq

  private val perFamily = 2000000

  test("log-uniform magnitudes 1e-8 to 1e12, both signs") {
    val rnd = new scala.util.Random(1L)
    assert(mismatches(Iterator.fill(perFamily) {
      val x = math.pow(10, rnd.nextDouble() * 20 - 8)
      if (rnd.nextBoolean()) -x else x
    }).isEmpty)
  }

  /** The double nearest `(n + 0.5) / 1e4`: a half-way tie at 4 decimals. */
  private def tie(n: Long): Double =
    java.math.BigDecimal.valueOf(n).add(java.math.BigDecimal.valueOf(0.5))
      .movePointLeft(4).doubleValue()

  private def tieIndex(rnd: scala.util.Random): Long = {
    val digits = 1 + rnd.nextInt(16) // ties from 5e-5 up to ~1e12
    val n = (rnd.nextDouble() * math.pow(10, digits)).toLong
    if (rnd.nextBoolean()) -n - 1 else n
  }

  test("exact ties at 4 decimals") {
    val rnd = new scala.util.Random(2L)
    assert(mismatches(Iterator.fill(perFamily)(tie(tieIndex(rnd)))).isEmpty)
  }

  test("nextUp and nextDown of ties") {
    val rnd = new scala.util.Random(3L)
    assert(mismatches(Iterator.fill(perFamily / 2) {
      val t = tie(tieIndex(rnd))
      Iterator(math.nextUp(t), math.nextDown(t))
    }.flatten).isEmpty)
  }

  test("random bit patterns") {
    val rnd = new scala.util.Random(4L)
    assert(mismatches(Iterator.fill(perFamily)(
      longBitsToDouble(rnd.nextLong()))).isEmpty)
  }

  test("uniform in [-1e8, 1e8] around the fast-path edge, and specials") {
    val rnd = new scala.util.Random(5L)
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, Double.MinValue, 1e8, -1e8, math.nextDown(1e8),
      math.nextUp(-1e8), 0.00005, -0.00005, 4.9999e-5, 1e-9, -3e-5)
    assert(mismatches(specials.iterator).isEmpty)
    assert(mismatches(Iterator.fill(perFamily)(
      (rnd.nextDouble() * 2 - 1) * 1e8)).isEmpty)
    // a zero result is +0.0, never -0.0
    assert(doubleToRawLongBits(Round4.round(-0.0)) == 0L)
    assert(doubleToRawLongBits(Round4.round(-3e-5)) == 0L)
  }

  test("the codegen'd expression equals Spark's round(x, 4), NULL kept") {
    val rnd = new scala.util.Random(6L)
    val xs = Seq.fill(20000)(math.pow(10, rnd.nextDouble() * 12 - 6) *
      (if (rnd.nextBoolean()) -1 else 1)) ++ (0 until 200).map(n => tie(n))
    val df = (xs.map(Option(_)) :+ None).toDF("x").repartition(3)
    val out = df.select(Round4.of($"x").as("a"), round($"x", 4).as("b"))
    assert(out.queryExecution.executedPlan.toString.contains("round4"))
    val rows = out.collect()
    assert(rows.count(r => r.isNullAt(0) && r.isNullAt(1)) == 1)
    assert(rows.forall(r => r.isNullAt(0) ||
      doubleToRawLongBits(r.getDouble(0)) == doubleToRawLongBits(r.getDouble(1))))
  }
}
