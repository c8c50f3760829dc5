package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import graft.operators.RollingDistinct

class RollingDistinctSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(12).withWorkers(1)
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  /** COUNT(DISTINCT id) over each trailing window of the span; a NULL
    * id is no value, but its bucket still belongs to the span. */
  private def naive(rows: Seq[(Option[Long], Long)],
      w: Int): Map[Long, Long] = {
    val lo = rows.map(_._2).min; val hi = rows.map(_._2).max
    (lo to hi).map { d =>
      d -> rows.collect { case (Some(id), b) if b <= d && b > d - w => id }
        .distinct.size.toLong
    }.toMap
  }

  test("difference-array rolling distinct equals the naive window scan") {
    val gen = for {
      n <- Gen.choose(1, 60); w <- Gen.choose(1, 9)
      rows <- Gen.listOfN(n, for {
        id <- Gen.option(Gen.choose(0L, 7L)); b <- Gen.choose(100L, 130L)
      } yield (id, b))
    } yield (rows, w)
    check(forAll(gen) { case (rows, w) =>
      val df = rows.toDF("uid", "b")
      val got = RollingDistinct.trailingDistinct(df, "uid", "b", w, "cnt")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == naive(rows, w)
    })
  }

  test("grouped rolling distinct equals the per-group naive scan") {
    val gen = for {
      n <- Gen.choose(1, 60); w <- Gen.choose(1, 9)
      rows <- Gen.listOfN(n, for {
        // null is one more group, as in window semantics
        g <- Gen.oneOf("x", "y", "z", null)
        id <- Gen.option(Gen.choose(0L, 7L))
        b <- Gen.choose(100L, 130L)
      } yield (g, id, b))
    } yield (rows, w)
    check(forAll(gen) { case (rows, w) =>
      val df = rows.toDF("g", "uid", "b")
      val got = RollingDistinct.groupedTrailingDistinct(df, Seq("g"),
          "uid", "b", w, "cnt")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        naive(rs.map(t => (t._2, t._3)), w).map { case (b, c) =>
          (g, b) -> c }
      }
      got == want
    })
  }

  test("zero-activity buckets inside the span still report carried ids") {
    // id 1 active on day 10 only; w=3 covers days 10-12 even though 11
    // and 12 have no events; day 13 drops to 0
    val df = Seq((1L, 10L), (2L, 13L)).toDF("uid", "b")
    val got = RollingDistinct.trailingDistinct(df, "uid", "b", 3, "cnt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 11L -> 1L, 12L -> 1L, 13L -> 1L))
  }

  test("repeat appearances never double-count (w spanning the gap)") {
    // id 1 on days 10 and 12 with w=5: windows ending 12..14 see it
    // once, not twice
    val df = Seq((1L, 10L), (1L, 12L)).toDF("uid", "b")
    val got = RollingDistinct.trailingDistinct(df, "uid", "b", 5, "cnt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("spineFrom widens the span: buckets past the id-bearing range " +
      "still see trailing ids (the RollingDistinctRewrite contract)") {
    // ids live on days 10-11; the caller must evaluate windows at days
    // 13 and 20 too (rows whose id column is null in the rewrite).
    // w=4: day 13's window [10,13] holds both ids; day 20's is empty.
    val ids = Seq((1L, 10L), (2L, 11L)).toDF("uid", "b")
    val spine = Seq((0L, 10L), (0L, 11L), (0L, 13L), (0L, 20L))
      .toDF("uid", "b")
    val got = RollingDistinct.groupedTrailingDistinct(ids, Nil, "uid",
        "b", 4, "cnt", spineFrom = Some(spine))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(13L) == 2L)
    assert(got(14L) == 1L) // [11,14] still holds id 2
    assert(got(15L) == 0L)
    assert(got(20L) == 0L)
    assert(got(10L) == 1L && got(11L) == 2L)
  }

  test("groupedTrailingDistinctSum: count AND sum per bucket match " +
      "brute force (values as their own weights, default spine)") {
    val rnd = new scala.util.Random(777)
    val rows = Seq.fill(120)((s"g${rnd.nextInt(2)}",
      (rnd.nextInt(10) - 4).toLong, rnd.nextInt(20).toLong))
    val df = rows.toDF("g", "v", "b")
    val w = 4
    val got = RollingDistinct.groupedTrailingDistinctSum(df, Seq("g"),
        "v", "b", w, "cnt", "sm")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    rows.map(r => (r._1, r._3)).distinct.foreach { case (g, b) =>
      // every observed bucket is inside that group's spine span
      val vs = rows.filter(r => r._1 == g && r._3 >= b - (w - 1) &&
        r._3 <= b).map(_._2).distinct
      assert(got((g, b)) == ((vs.size.toLong, vs.sum)),
        s"group $g bucket $b")
    }
  }

  test("groupedCumulativeDistinctSum: prefix count/sum, null buckets " +
      "as the sentinel row, default spine") {
    val df = Seq[(String, java.lang.Long, java.lang.Long)](
      ("g", null, 5L), ("g", null, 5L), ("g", 10L, 5L), ("g", 10L, 7L),
      ("g", 12L, 7L), ("g", 13L, 9L)).toDF("g", "b", "v")
    val got = RollingDistinct.groupedCumulativeDistinctSum(df, Seq("g"),
        "v", "b", "cnt", Some("sm"))
      .collect().map(r => (if (r.isNullAt(1)) None else Some(r.getLong(1)))
        -> ((r.getLong(2), r.getLong(3)))).toMap
    // sentinel (null bucket): ids among null rows only = {5}
    assert(got(None) == ((1L, 5L)))
    // day 10: {5 (incl. from nulls), 7}; unobserved day 11 gets no row
    assert(got(Some(10L)) == ((2L, 12L)))
    assert(got(Some(12L)) == ((2L, 12L)))
    assert(got(Some(13L)) == ((3L, 21L)))
    assert(got.keySet == Set(None, Some(10L), Some(12L), Some(13L)))
  }
}
