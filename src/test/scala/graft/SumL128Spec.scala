package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SumL128.sumL128

/** [[graft.functions.SumL128Expr]] — exact 124-bit long-path sum (r07
  * verdict item 7). The contract under test: for any longs with
  * |v| ≤ 2^61, grouped/global sums equal the exact BigInt sum, across
  * partial→merge boundaries (multi-partition input forces real
  * mergeExpressions traffic), with nulls skipped and empty → 0.
  */
class SumL128Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def exact(vs: Seq[java.lang.Long]): BigInt =
    vs.filter(_ ne null).map(v => BigInt(v.longValue)).sum

  private def run(vs: Seq[java.lang.Long], parts: Int): BigInt = {
    val got = vs.toDF("v").repartition(parts)
      .agg(sumL128(col("v")).as("s"))
      .head.getDecimal(0)
    BigInt(got.toBigInteger)
  }

  test("property: random signed mixes at every magnitude == BigInt sum") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20) {
      // magnitudes from tiny to the 2^61 input bound, signs mixed —
      // forces carries and borrows through both update and merge
      val bound = 1L << (3 + rnd.nextInt(59)) // 2^3 .. 2^61
      val vs: Seq[java.lang.Long] = Seq.fill(200) {
        val v = (rnd.nextLong() % bound).abs
        java.lang.Long.valueOf(if (rnd.nextBoolean()) v else -v)
      }
      assert(run(vs, parts = 7) === exact(vs), s"trial $trial bound=$bound")
    }
  }

  test("carry boundary: many max-magnitude terms overflow a plain long sum") {
    val big = java.lang.Long.valueOf((1L << 61) - 1)
    val vs = Seq.fill(64)(big) // Σ = 64·(2^61−1) ≈ 2^67 — wraps int64
    assert(run(vs, parts = 5) === exact(vs))
    assert(exact(vs) > BigInt(Long.MaxValue)) // the test is non-vacuous
  }

  test("borrow boundary: alternating ±(2^61−1) cancels exactly to a residue") {
    val a = java.lang.Long.valueOf((1L << 61) - 1)
    val b = java.lang.Long.valueOf(-((1L << 61) - 1))
    val vs: Seq[java.lang.Long] = (Seq.fill(33)(a) ++ Seq.fill(32)(b))
    assert(run(scala.util.Random.shuffle(vs), parts = 6) === exact(vs))
  }

  test("negative total: hi goes negative, decimal assembly stays exact") {
    val vs: Seq[java.lang.Long] =
      Seq.fill(100)(java.lang.Long.valueOf(-(1L << 55)))
    assert(run(vs, parts = 4) === exact(vs))
  }

  test("nulls are skipped; all-null and empty groups evaluate to 0") {
    val vs: Seq[java.lang.Long] =
      Seq(java.lang.Long.valueOf(5L), null, java.lang.Long.valueOf(-2L), null)
    assert(run(vs, parts = 2) === BigInt(3))
    assert(run(Seq[java.lang.Long](null, null), parts = 2) === BigInt(0))
    assert(run(Seq.empty[java.lang.Long], parts = 1) === BigInt(0))
  }

  test("grouped: per-group sums independent and exact") {
    val df = Seq(("a", 10L), ("b", 1L << 60), ("a", -3L), ("b", 1L << 60))
      .toDF("k", "v").repartition(4)
    val got = df.groupBy("k").agg(sumL128(col("v")).as("s"))
      .collect().map(r => r.getString(0) -> BigInt(r.getDecimal(1).toBigInteger))
      .toMap
    assert(got("a") === BigInt(7))
    assert(got("b") === BigInt(1L << 60) * 2)
  }

  test("SQL registration: sum_l128 over a view matches the Column form") {
    GraftExtensions.register(spark)
    Seq(3L, -1L, 1L << 50).toDF("v").createOrReplaceTempView("suml128_t")
    val viaSql = spark.sql("SELECT sum_l128(v) AS s FROM suml128_t")
      .head.getDecimal(0)
    assert(BigInt(viaSql.toBigInteger) === BigInt(2 + (1L << 50)))
  }

  test("rejects non-long input with a named error") {
    val e = intercept[Exception] {
      Seq(1.5, 2.5).toDF("v").agg(sumL128(col("v"))).collect()
    }
    assert(e.getMessage.contains("sum_l128") ||
      e.getMessage.toLowerCase.contains("bigint"))
  }
}
