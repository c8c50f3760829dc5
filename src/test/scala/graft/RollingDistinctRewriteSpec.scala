package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.RollingDistinctRewrite]] — the analyzer rule that
  * makes `count(DISTINCT x) OVER (... RANGE n PRECEDING)` legal by
  * rewriting it to the RollingDistinct difference-array plan (r12
  * verdict item 4). Oracle here is brute force computed in Scala over
  * the same rows (per row: distinct non-null ids with bucket in
  * [b−n, b]; null-bucket rows are one peer frame — the measured stock
  * Spark semantics for null order keys in range frames). */
class RollingDistinctRewriteSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def brute(rows: Seq[(String, java.lang.Long, java.lang.Long)],
      n: Long): Map[(String, Option[Long]), Long] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          b match {
            case Some(bv) => rb.exists(x => x >= bv - n && x <= bv)
            case None => rb.isEmpty
          }
        }.flatMap(r => Option(r._3)).distinct
        (g, b) -> ids.size.toLong
      }
    }

  test("property: random grouped data with null buckets and null ids " +
      "matches brute force at several widths") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 0 until 8) {
      val nGroups = 1 + rnd.nextInt(3)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(40 + rnd.nextInt(80)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          val b: java.lang.Long = if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(25).toLong)
          val id: java.lang.Long = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(12).toLong)
          (g, b, id)
        }
      val n = 1L + rnd.nextInt(9)
      val df = rows.toDF("g", "b", "id")
      val w = Window.partitionBy("g").orderBy(col("b"))
        .rangeBetween(-n, 0)
      val got = df.select(col("g"), col("b"),
          count_distinct(col("id")).over(w).as("c"))
        .collect()
        .map(r => ((r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getLong(2)))
      val want = brute(rows, n)
      got.foreach { case (k, c) =>
        assert(c == want(k), s"trial $trial n=$n key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("the distinct window agg is rewritten out of the plan and " +
      "output exprIds survive for parent operators") {
    val df = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L))
      .toDF("id", "b")
    val w = Window.orderBy(col("b")).rangeBetween(-1, 0)
    val out = df.select(col("b"),
        count_distinct(col("id")).over(w).as("u"))
      // parent operators referencing the alias: filter + sort + agg
      .filter(col("u") >= 1)
      .groupBy(col("u")).agg(count(lit(1)).as("n"))
    val opt = out.queryExecution.optimizedPlan
    val survivors = opt.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.windowExpressions.exists(_.exists {
            case ae: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateExpression => ae.isDistinct
            case _ => false
          }) => wn
    }
    assert(survivors.isEmpty, "distinct window agg must be rewritten")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // frames: b=10 → {1,2}=2 ×2 rows; b=11 → [10,11] {1,2}=2; b=12 →
    // [11,12] {2,3}=2 — every row has u=2
    assert(got == Map(2L -> 4L))
  }

  test("the SQL surface gets the rewrite too: count(DISTINCT) OVER in " +
      "spark.sql parses, rewrites, and matches the DataFrame path") {
    // the reference's tbl_lazy users live in SQL — the analyzer rule
    // fires regardless of how the plan was built ("6 PRECEDING" parses
    // to a foldable negative boundary, handled like rangeBetween(-6, 0))
    val df = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 14L), (3L, 15L))
      .toDF("id", "b")
    df.createOrReplaceTempView("rdr_sql_t")
    try {
      val viaSql = spark.sql(
        """SELECT b, count(DISTINCT id) OVER
             (ORDER BY b RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS u
           FROM rdr_sql_t""")
      val got = viaSql.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
      // frames: b=10 → {1,2}; b=11 → [9,11] {1,2}; b=14 → [12,14] {3};
      // b=15 → [13,15] {3}
      assert(got == Seq((10L, 2L), (10L, 2L), (11L, 2L),
        (14L, 1L), (15L, 1L)))
      val w = Window.orderBy(col("b")).rangeBetween(-2, 0)
      val viaDf = df.select(col("b"),
          count_distinct(col("id")).over(w).as("u"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == viaDf)
    } finally spark.catalog.dropTempView(rdrView)
  }

  private val rdrView = "rdr_sql_t"

  private def bruteSum(
      rows: Seq[(String, java.lang.Long, java.lang.Long)],
      n: Long): Map[(String, Option[Long]), Option[Long]] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          b match {
            case Some(bv) => rb.exists(x => x >= bv - n && x <= bv)
            case None => rb.isEmpty
          }
        }.flatMap(r => Option(r._3).map(_.longValue)).distinct
        (g, b) -> (if (ids.isEmpty) None else Some(ids.sum))
      }
    }

  test("SUM(DISTINCT) arm: random grouped data with null buckets and " +
      "null ids matches brute force; empty frames are NULL") {
    val rnd = new scala.util.Random(4321)
    for (trial <- 0 until 8) {
      val nGroups = 1 + rnd.nextInt(3)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(40 + rnd.nextInt(80)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          // sparse buckets (stride 3) so small widths hit empty frames
          // on null-id rows
          val b: java.lang.Long = if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(25).toLong * 3)
          val id: java.lang.Long = if (rnd.nextInt(4) == 0) null
            else java.lang.Long.valueOf((rnd.nextInt(12) - 5).toLong)
          (g, b, id)
        }
      val n = 1L + rnd.nextInt(9)
      val df = rows.toDF("g", "b", "id")
      val w = Window.partitionBy("g").orderBy(col("b"))
        .rangeBetween(-n, 0)
      val got = df.select(col("g"), col("b"),
          sum_distinct(col("id")).over(w).as("sd"))
        .collect()
        .map(r => ((r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
      val want = bruteSum(rows, n)
      got.foreach { case (k, sd) =>
        assert(sd == want(k), s"trial $trial n=$n key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("count and sum DISTINCT in ONE window node both rewrite; " +
      "exprIds survive for parent operators") {
    val df = Seq((1L, 10L), (5L, 10L), (5L, 11L), (7L, 12L))
      .toDF("id", "b")
    val w = Window.orderBy(col("b")).rangeBetween(-1, 0)
    val out = df.select(col("b"),
        count_distinct(col("id")).over(w).as("u"),
        sum_distinct(col("id")).over(w).as("sd"))
      .filter(col("u") >= 1)
      .groupBy(col("b")).agg(max(col("sd")).as("m"))
    val opt = out.queryExecution.optimizedPlan
    val survivors = opt.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.windowExpressions.exists(_.exists {
            case ae: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateExpression => ae.isDistinct
            case _ => false
          }) => wn
    }
    assert(survivors.isEmpty, "distinct window aggs must be rewritten")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // b=10: {1,5} sum 6; b=11: [10,11] {1,5} sum 6; b=12: [11,12]
    // {5,7} sum 12
    assert(got == Map(10L -> 6L, 11L -> 6L, 12L -> 12L))
  }

  test("SUM(DISTINCT) via the SQL surface matches the DataFrame path") {
    val df = Seq((4L, 10L), (4L, 11L), (9L, 14L), (2L, 15L))
      .toDF("id", "b")
    df.createOrReplaceTempView("rds_sql_t")
    try {
      val viaSql = spark.sql(
        """SELECT b, sum(DISTINCT id) OVER
             (ORDER BY b RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS sd
           FROM rds_sql_t""")
      val got = viaSql.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
      // b=10 {4}=4; b=11 [9,11] {4}=4; b=14 [12,14] {9}=9;
      // b=15 [13,15] {9,2}=11
      assert(got == Seq((10L, 4L), (11L, 4L), (14L, 9L), (15L, 11L)))
    } finally spark.catalog.dropTempView("rds_sql_t")
  }

  test("AVG(DISTINCT) arm: exact-sum/exact-count division semantics, " +
      "grouped, empty frames NULL; matches brute force") {
    val rnd = new scala.util.Random(9876)
    for (trial <- 0 until 4) {
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(60) {
          val g = s"g${rnd.nextInt(2)}"
          val b: java.lang.Long = java.lang.Long.valueOf(
            rnd.nextInt(20).toLong * 2)
          val id: java.lang.Long = if (rnd.nextInt(5) == 0) null
            else java.lang.Long.valueOf((rnd.nextInt(9) - 4).toLong)
          (g, b, id)
        }
      val n = 1L + rnd.nextInt(5)
      val df = rows.toDF("g", "b", "id")
      df.createOrReplaceTempView("rda_t")
      try {
        val got = spark.sql(
          s"""SELECT g, b, avg(DISTINCT id) OVER (PARTITION BY g
                ORDER BY b RANGE BETWEEN $n PRECEDING AND CURRENT ROW)
              FROM rda_t""")
          .collect()
          .map(r => ((r.getString(0), r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        val wantSum = bruteSum(rows, n)
        val wantCnt = brute(rows, n)
        got.foreach { case (k, a) =>
          val key = (k._1, Some(k._2): Option[Long])
          val want = wantSum(key).map(s =>
            s.toDouble / wantCnt(key).toDouble)
          assert(a == want, s"trial $trial n=$n key=$k")
        }
      } finally spark.catalog.dropTempView("rda_t")
    }
  }

  /** Brute force for the UNBOUNDED PRECEDING (cumulative) frame under
    * the MEASURED stock null semantics: null order keys sort first as
    * one peer group whose frame is just the null rows, and every
    * non-null row's frame includes them (the opposite of the finite
    * range case, where nulls sit outside every frame — both measured
    * in this suite). */
  private def bruteCum(
      rows: Seq[(String, java.lang.Long, java.lang.Long)])
      : Map[(String, Option[Long]), (Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          b match {
            case Some(bv) => rb.isEmpty || rb.exists(_ <= bv)
            case None => rb.isEmpty
          }
        }.flatMap(r => Option(r._3).map(_.longValue)).distinct
        (g, b) -> ((ids.size.toLong,
          if (ids.isEmpty) None else Some(ids.sum)))
      }
    }

  test("UNBOUNDED PRECEDING (cumulative distinct): count and sum " +
      "match brute force incl. null buckets and the nulls-first " +
      "peer-group inclusion semantics") {
    val rnd = new scala.util.Random(5555)
    for (trial <- 0 until 8) {
      val nGroups = 1 + rnd.nextInt(3)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(40 + rnd.nextInt(80)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          val b: java.lang.Long = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(25).toLong)
          val id: java.lang.Long = if (rnd.nextInt(6) == 0) null
            else java.lang.Long.valueOf((rnd.nextInt(12) - 5).toLong)
          (g, b, id)
        }
      val df = rows.toDF("g", "b", "id")
      val w = Window.partitionBy("g").orderBy(col("b"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val got = df.select(col("g"), col("b"),
          count_distinct(col("id")).over(w).as("c"),
          sum_distinct(col("id")).over(w).as("sd"))
        .collect()
        .map(r => ((r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      val want = bruteCum(rows)
      got.foreach { case (k, v) =>
        assert(v == want(k), s"trial $trial key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("cumulative distinct via the SQL default frame (plain ORDER " +
      "BY — no frame clause) rewrites and matches hand values") {
    val df = Seq((1L, 10L), (2L, 10L), (1L, 11L), (3L, 12L))
      .toDF("id", "b")
    df.createOrReplaceTempView("rdc_sql_t")
    try {
      val got = spark.sql(
        """SELECT b, count(DISTINCT id) OVER (ORDER BY b) AS u
           FROM rdc_sql_t""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // cumulative uniques: b=10 {1,2}=2 (x2 rows); b=11 {1,2}=2;
      // b=12 {1,2,3}=3
      assert(got == Seq((10L, 2L), (10L, 2L), (11L, 2L), (12L, 3L)))
    } finally spark.catalog.dropTempView("rdc_sql_t")
  }

  test("MIXED window node: a distinct target beside PLAIN window " +
      "expressions splits — plain exprs stay a stock Window, the " +
      "distinct one rewrites, all outputs correct in order") {
    val df = Seq((1L, 10L, 2L), (2L, 10L, 3L), (2L, 11L, 4L),
      (3L, 12L, 5L)).toDF("id", "b", "y")
    val w = Window.orderBy(col("b")).rangeBetween(-1, 0)
    // ExtractWindowExpressions puts all three into ONE Window node
    val out = df.select(col("b"),
        count_distinct(col("id")).over(w).as("u"),
        sum(col("y")).over(w).as("sy"),
        count(lit(1)).over(w).as("n"))
    val opt = out.queryExecution.optimizedPlan
    val survivors = opt.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.windowExpressions.exists(_.exists {
            case ae: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateExpression => ae.isDistinct
            case _ => false
          }) => wn
    }
    assert(survivors.isEmpty, "the distinct expr must be rewritten")
    val plainWindows = opt.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
    }
    assert(plainWindows.nonEmpty,
      "the plain exprs must remain a stock Window node")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    // b=10: frame [9,10] ids {1,2} u=2, sy=2+3=5, n=2 (x2 rows);
    // b=11: [10,11] ids {1,2} u=2, sy=9, n=3; b=12: [11,12] {2,3} u=2,
    // sy=9, n=2
    assert(got == Seq((10L, 2L, 5L, 2L), (10L, 2L, 5L, 2L),
      (11L, 2L, 9L, 3L), (12L, 2L, 9L, 2L)))
  }

  test("a mixed node with an INELIGIBLE distinct (WIDE rows frame, " +
      "n > maxLag) is left whole — stock rejection applies to the " +
      "whole node") {
    val df = Seq((1L, 10L, 2L)).toDF("id", "b", "y")
    val wr = Window.orderBy(col("b")).rowsBetween(-100, 0)
    val e = intercept[Exception] {
      df.select(count_distinct(col("id")).over(wr),
        sum(col("y")).over(wr)).collect()
    }
    assert(e.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
  }

  test("fractional SUM(DISTINCT) is NOT claimed — stock rejection " +
      "stands (the rewrite is exact-integer-only)") {
    val df = Seq((1.5, 10L)).toDF("x", "b")
    val w = Window.orderBy(col("b")).rangeBetween(-1, 0)
    val e = intercept[Exception] {
      df.select(sum_distinct(col("x")).over(w)).collect()
    }
    assert(e.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
  }

  test("ineligible shapes are left alone and still rejected by Spark") {
    val df = Seq((1L, 10L)).toDF("id", "b")
    // UNBOUNDED PRECEDING rows frame: positional-cumulative — the lag
    // lowering would need partition-sized tap counts, so the rule must
    // NOT claim it; stock DISTINCT_WINDOW_FUNCTION_UNSUPPORTED applies
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = intercept[Exception] {
      df.select(count_distinct(col("id")).over(w)).collect()
    }
    assert(e.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
    // rows frame WIDER than the tap cap: stock rejection stands
    val w2 = Window.orderBy(col("b")).rowsBetween(-65, 0)
    val e2 = intercept[Exception] {
      df.select(count_distinct(col("id")).over(w2)).collect()
    }
    assert(e2.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
  }

  // ---- round-14: DESC widening + the nulls-ordering envelope ----

  /** Brute force for the DESC finite frame: "n PRECEDING" in DESC
    * order means LARGER buckets — the frame is buckets in [b, b+n];
    * null buckets stay one peer frame (position-independent under a
    * finite range bound). */
  private def bruteDesc(
      rows: Seq[(String, java.lang.Long, java.lang.Long)],
      n: Long): Map[(String, Option[Long]), Long] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          b match {
            case Some(bv) => rb.exists(x => x >= bv && x <= bv + n)
            case None => rb.isEmpty
          }
        }.flatMap(r => Option(r._3)).distinct
        (g, b) -> ids.size.toLong
      }
    }

  test("DESC order key (leading window): random grouped data with " +
      "null buckets matches brute force; the rewrite fires") {
    val rnd = new scala.util.Random(1414)
    for (trial <- 0 until 8) {
      val nGroups = 1 + rnd.nextInt(3)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(40 + rnd.nextInt(80)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          val b: java.lang.Long = if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(25).toLong)
          val id: java.lang.Long = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(12).toLong)
          (g, b, id)
        }
      val n = 1L + rnd.nextInt(9)
      val df = rows.toDF("g", "b", "id")
      val w = Window.partitionBy("g").orderBy(col("b").desc)
        .rangeBetween(-n, 0)
      val out = df.select(col("g"), col("b"),
        count_distinct(col("id")).over(w).as("c"))
      val survivors = out.queryExecution.optimizedPlan.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      assert(survivors.isEmpty, "DESC distinct window must be rewritten")
      val got = out.collect()
        .map(r => ((r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getLong(2)))
      val want = bruteDesc(rows, n)
      got.foreach { case (k, c) =>
        assert(c == want(k), s"trial $trial n=$n key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  /** DESC brute force for the dual count/sum: frame = buckets in
    * [b, b+n]; empty frames keep the COUNT-0 / SUM-NULL split. */
  private def bruteDescSum(
      rows: Seq[(String, java.lang.Long, java.lang.Long)],
      n: Long): Map[(String, Option[Long]), (Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          b match {
            case Some(bv) => rb.exists(x => x >= bv && x <= bv + n)
            case None => rb.isEmpty
          }
        }.flatMap(r => Option(r._3).map(_.longValue)).distinct
        (g, b) -> ((ids.size.toLong,
          if (ids.isEmpty) None else Some(ids.sum)))
      }
    }

  test("DESC SUM+COUNT(DISTINCT) in one node: coalesced frame, " +
      "sparse buckets, empty leading frames NULL — matches brute") {
    val rnd = new scala.util.Random(2468)
    for (trial <- 0 until 6) {
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(50 + rnd.nextInt(60)) {
          val g = s"g${rnd.nextInt(2)}"
          // sparse buckets (stride 3) so small widths hit empty
          // leading frames on null-id rows
          val b: java.lang.Long = if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(20).toLong * 3)
          val id: java.lang.Long = if (rnd.nextInt(4) == 0) null
            else java.lang.Long.valueOf((rnd.nextInt(11) - 5).toLong)
          (g, b, id)
        }
      val n = 1L + rnd.nextInt(7)
      val df = rows.toDF("g", "b", "id")
      val w = Window.partitionBy("g").orderBy(col("b").desc)
        .rangeBetween(-n, 0)
      val out = df.select(col("g"), col("b"),
        count_distinct(col("id")).over(w).as("c"),
        sum_distinct(col("id")).over(w).as("sd"))
      val got = out.collect()
        .map(r => ((r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      val want = bruteDescSum(rows, n)
      got.foreach { case (k, v) =>
        assert(v == want(k), s"trial $trial n=$n key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("DESC via the SQL surface (both DESC null orderings): hand " +
      "values; ASC path unchanged by the widening") {
    val df = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 13L))
      .toDF("id", "b")
    df.createOrReplaceTempView("rdd_sql_t")
    try {
      for (nulls <- Seq("NULLS FIRST", "NULLS LAST")) {
        val got = spark.sql(
          s"""SELECT b, count(DISTINCT id) OVER (ORDER BY b DESC $nulls
                RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS u
              FROM rdd_sql_t""")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        // leading frames [b, b+2]: b=10 → {1,2,2@11}= {1,2} u=2 (x2);
        // b=11 → [11,13] {2,3} u=2; b=13 → {3} u=1
        assert(got == Seq((10L, 2L), (10L, 2L), (11L, 2L), (13L, 1L)),
          s"nulls=$nulls")
      }
    } finally spark.catalog.dropTempView("rdd_sql_t")
  }

  // ---- round-15: NULLS LAST cumulative + ROWS-frame lag lowering ----

  /** Brute force for the cumulative NULLS LAST mirror: non-null rows
    * see distinct values over non-null buckets ≤ b ONLY (the null peer
    * group sorts after them); null rows are the LAST peer group, so
    * their frame is the whole partition. */
  private def bruteCumNullsLast(
      rows: Seq[(String, java.lang.Long, java.lang.Long)])
      : Map[(String, Option[Long]), (Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          b match {
            case Some(bv) => rb.exists(_ <= bv)
            case None => true
          }
        }.flatMap(r => Option(r._3).map(_.longValue)).distinct
        (g, b) -> ((ids.size.toLong,
          if (ids.isEmpty) None else Some(ids.sum)))
      }
    }

  test("ASC NULLS LAST cumulative IS claimed (round 15 — flips the " +
      "r13 negative): count and sum match the mirror brute force " +
      "incl. null buckets seeing the whole partition") {
    val rnd = new scala.util.Random(7272)
    for (trial <- 0 until 8) {
      val nGroups = 1 + rnd.nextInt(3)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(40 + rnd.nextInt(80)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          val b: java.lang.Long = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(25).toLong)
          val id: java.lang.Long = if (rnd.nextInt(6) == 0) null
            else java.lang.Long.valueOf((rnd.nextInt(12) - 5).toLong)
          (g, b, id)
        }
      val df = rows.toDF("g", "b", "id")
      val w = Window.partitionBy("g").orderBy(col("b").asc_nulls_last)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val out = df.select(col("g"), col("b"),
        count_distinct(col("id")).over(w).as("c"),
        sum_distinct(col("id")).over(w).as("sd"))
      val survivors = out.queryExecution.optimizedPlan.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      assert(survivors.isEmpty,
        "NULLS LAST cumulative distinct must be rewritten")
      val got = out.collect()
        .map(r => ((r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      val want = bruteCumNullsLast(rows)
      got.foreach { case (k, v) =>
        assert(v == want(k), s"trial $trial key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("NULLS LAST cumulative: a Long.MinValue bucket is LEGAL here " +
      "(no sentinel on the mirror path) and the SQL surface agrees " +
      "with the DataFrame path") {
    // no sentinel fold → Long.MinValue is an ordinary bucket... but the
    // span guard still bounds the spine, so keep buckets adjacent
    val df = Seq((1L, java.lang.Long.valueOf(Long.MinValue)),
      (2L, java.lang.Long.valueOf(Long.MinValue + 3)),
      (3L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "b")
    df.createOrReplaceTempView("rdnl2_sql_t")
    try {
      val got = spark.sql(
        """SELECT b, count(DISTINCT id) OVER (ORDER BY b ASC NULLS LAST)
             AS u FROM rdnl2_sql_t""")
        .collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1))).toSeq
        .sortBy(_._1.getOrElse(Long.MaxValue))
      // MinValue row: {1}; MinValue+3 row: {1,2}; null row: whole
      // partition {1,2,3}
      assert(got == Seq((Some(Long.MinValue), 1L),
        (Some(Long.MinValue + 3), 2L), (None, 3L)))
    } finally spark.catalog.dropTempView("rdnl2_sql_t")
  }

  /** Positional brute force for ROWS n PRECEDING: previous n physical
    * rows + current in (unique) order-key order, distinct non-null
    * values. */
  private def bruteRows(rows: Seq[(String, Long, java.lang.Long)],
      n: Int, asc: Boolean): Map[(String, Long), (Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = if (asc) rs.sortBy(_._2) else rs.sortBy(-_._2)
      sorted.zipWithIndex.map { case (r, i) =>
        val ids = sorted.slice(math.max(0, i - n), i + 1)
          .flatMap(x => Option(x._3).map(_.longValue)).distinct
        (g, r._2) -> ((ids.size.toLong,
          if (ids.isEmpty) None else Some(ids.sum)))
      }
    }

  test("ROWS-frame distinct (round 15): count+sum via the lag-array " +
      "lowering match positional brute force, ASC and DESC order, " +
      "all-null frames SUM-NULL") {
    val rnd = new scala.util.Random(3131)
    for (trial <- 0 until 6; asc <- Seq(true, false)) {
      val rows: Seq[(String, Long, java.lang.Long)] =
        rnd.shuffle((0 until (40 + rnd.nextInt(60))).map { i =>
          val g = s"g${rnd.nextInt(3)}"
          // unique order key per (g, i) so the positional frame is
          // deterministic (ties would make ANY rows frame ambiguous)
          val id: java.lang.Long = if (rnd.nextInt(4) == 0) null
            else java.lang.Long.valueOf((rnd.nextInt(9) - 4).toLong)
          (g, i.toLong, id)
        })
      val n = 1 + rnd.nextInt(7)
      val df = rows.toDF("g", "o", "id")
      val ord = if (asc) col("o").asc else col("o").desc
      val w = Window.partitionBy("g").orderBy(ord).rowsBetween(-n, 0)
      val out = df.select(col("g"), col("o"),
        count_distinct(col("id")).over(w).as("c"),
        sum_distinct(col("id")).over(w).as("sd"))
      val survivors = out.queryExecution.optimizedPlan.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      assert(survivors.isEmpty,
        "rows-frame distinct must be rewritten to the lag array")
      val got = out.collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      val want = bruteRows(rows, n, asc)
      got.foreach { case (k, v) =>
        assert(v == want(k), s"trial $trial n=$n asc=$asc key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  /** General positional brute force: frame = rows [i+lo, i+hi] clipped
    * to the partition, distinct non-null values. */
  private def bruteRowsRange(rows: Seq[(String, Long, java.lang.Long)],
      lo: Int, hi: Int, asc: Boolean)
      : Map[(String, Long), (Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = if (asc) rs.sortBy(_._2) else rs.sortBy(-_._2)
      sorted.zipWithIndex.map { case (r, i) =>
        val ids = sorted.slice(math.max(0, i + lo),
            math.max(0, i + hi + 1))
          .flatMap(x => Option(x._3).map(_.longValue)).distinct
        (g, r._2) -> ((ids.size.toLong,
          if (ids.isEmpty) None else Some(ids.sum)))
      }
    }

  test("ROWS-frame distinct GENERAL offsets (round 15): random " +
      "[lo, hi] frames — centered, leading, strictly-offset, current " +
      "row excluded — match positional brute force; empty frames " +
      "COUNT-0 / SUM-NULL") {
    val rnd = new scala.util.Random(8787)
    for (trial <- 0 until 10) {
      val rows: Seq[(String, Long, java.lang.Long)] =
        rnd.shuffle((0 until (30 + rnd.nextInt(50))).map { i =>
          val g = s"g${rnd.nextInt(3)}"
          val id: java.lang.Long = if (rnd.nextInt(4) == 0) null
            else java.lang.Long.valueOf((rnd.nextInt(9) - 4).toLong)
          (g, i.toLong, id)
        })
      val lo = rnd.nextInt(13) - 6
      val hi = lo + rnd.nextInt(13 - math.max(0, lo + 6))
      val asc = rnd.nextBoolean()
      val df = rows.toDF("g", "o", "id")
      val ord = if (asc) col("o").asc else col("o").desc
      val w = Window.partitionBy("g").orderBy(ord).rowsBetween(lo, hi)
      val out = df.select(col("g"), col("o"),
        count_distinct(col("id")).over(w).as("c"),
        sum_distinct(col("id")).over(w).as("sd"))
      val survivors = out.queryExecution.optimizedPlan.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      assert(survivors.isEmpty,
        s"rows [$lo,$hi] distinct must be rewritten")
      val got = out.collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      val want = bruteRowsRange(rows, lo, hi, asc)
      got.foreach { case (k, v) =>
        assert(v == want(k), s"trial $trial [$lo,$hi] asc=$asc key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("rows-frame tap COALESCING (r15 review): count+sum over one " +
      "frame share one tap array — exactly ONE Window node survives") {
    val df = Seq((1L, 1L), (2L, 2L), (1L, 3L), (3L, 4L))
      .toDF("id", "o")
    val w = Window.orderBy(col("o")).rowsBetween(-2, 0)
    val out = df.select(col("o"),
      count_distinct(col("id")).over(w).as("c"),
      sum_distinct(col("id")).over(w).as("sd"))
    val windows = out.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
    }
    assert(windows.size == 1,
      s"count+sum must share one tap WindowExec, got ${windows.size}")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // frames (positional): o=1 {1}; o=2 {1,2}; o=3 {1,2}; o=4 {2,1,3}
    assert(got == Seq((1L, 1L, 1L), (2L, 2L, 3L), (3L, 2L, 3L),
      (4L, 3L, 6L)))
  }

  test("ROWS-frame distinct: COUNT over a STRING column (count claims " +
      "any atomic type; sum stays integral-only) and AVG via SQL — " +
      "exact-sum/exact-count division") {
    val df = Seq(("g", 1L, "a", 4L), ("g", 2L, "b", 4L),
      ("g", 3L, "a", 6L), ("g", 4L, null, 10L), ("g", 5L, "c", 6L))
      .toDF("g", "o", "s", "v")
    df.createOrReplaceTempView("rdrows_sql_t")
    try {
      val got = spark.sql(
        """SELECT o, count(DISTINCT s) OVER w AS cs,
              avg(DISTINCT v) OVER w AS av
            FROM rdrows_sql_t
            WINDOW w AS (PARTITION BY g ORDER BY o
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
      // frames (o): 1:{a}/{4}; 2:{a,b}/{4}; 3:{a,b}+a/{4,6};
      // 4:{b,a,-}/{4,6,10}; 5:{a,-,c}/{6,10}
      assert(got == Seq((1L, 1L, 4.0), (2L, 2L, 4.0), (3L, 2L, 5.0),
        (4L, 2L, 20.0 / 3.0), (5L, 2L, 8.0)))
      // fractional sum_distinct over a rows frame stays stock-rejected
      val e = intercept[Exception] {
        spark.sql("""SELECT sum(DISTINCT CAST(v AS DOUBLE)) OVER
            (PARTITION BY g ORDER BY o ROWS BETWEEN 2 PRECEDING AND
             CURRENT ROW) FROM rdrows_sql_t""").collect()
      }
      assert(
        e.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
    } finally spark.catalog.dropTempView("rdrows_sql_t")
  }

  test("ROWS-frame tap cap is configurable: maxLag=4 rejects n=5 and " +
      "claims n=4 in the same session") {
    val key = "spark.graft.rowsDistinct.maxLag"
    spark.conf.set(key, "4")
    try {
      val df = Seq((1L, 10L)).toDF("id", "o")
      val w5 = Window.orderBy(col("o")).rowsBetween(-5, 0)
      val e = intercept[Exception] {
        df.select(count_distinct(col("id")).over(w5)).collect()
      }
      assert(e.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
      val w4 = Window.orderBy(col("o")).rowsBetween(-4, 0)
      val got = df.select(count_distinct(col("id")).over(w4)).collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(1L))
    } finally spark.conf.unset(key)
  }

  test("cumulative COUNT(DISTINCT) over NON-INTEGRAL values (r15 " +
      "review fix): doubles count as distinct doubles in all four " +
      "quadrants — no long-cast conflation; strings don't ANSI-throw") {
    val df = Seq(
      (java.lang.Double.valueOf(1.2), java.lang.Long.valueOf(1L)),
      (java.lang.Double.valueOf(1.7), java.lang.Long.valueOf(1L)),
      (java.lang.Double.valueOf(2.5), java.lang.Long.valueOf(2L)),
      (java.lang.Double.valueOf(1.2), java.lang.Long.valueOf(3L)),
      (java.lang.Double.valueOf(9.9), null.asInstanceOf[java.lang.Long]))
      .toDF("x", "b")
    def run(ord: org.apache.spark.sql.Column): Map[Option[Long], Long] = {
      val w = Window.orderBy(ord)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      df.select(col("b"), count_distinct(col("x")).over(w).as("c"))
        .distinct().collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1))).toMap
    }
    // pre-fix, the eager cast("long") conflated 1.2 and 1.7 into one
    // distinct value — every frame containing both under-counted
    assert(run(col("b").asc_nulls_first) == Map(
      Some(1L) -> 3L, Some(2L) -> 4L, Some(3L) -> 4L, None -> 1L))
    assert(run(col("b").asc_nulls_last) == Map(
      Some(1L) -> 2L, Some(2L) -> 3L, Some(3L) -> 3L, None -> 4L))
    assert(run(col("b").desc_nulls_first) == Map(
      Some(3L) -> 2L, Some(2L) -> 3L, Some(1L) -> 4L, None -> 1L))
    assert(run(col("b").desc_nulls_last) == Map(
      Some(3L) -> 1L, Some(2L) -> 2L, Some(1L) -> 3L, None -> 4L))
    // STRING values: the sum carrier must not ANSI-throw (try_cast),
    // and the count is over distinct strings
    val sdf = Seq(("a", 1L), ("bb", 1L), ("a", 2L), ("c", 2L))
      .toDF("s", "b")
    val w = Window.orderBy(col("b"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val got = sdf.select(col("b"),
        count_distinct(col("s")).over(w).as("c"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 3L))
  }

  test("DESC-negation overflow guard (r14 verdict item 8): a " +
      "Long.MinValue order key under a DESC finite frame fails " +
      "LOUDLY with the ANSI overflow error instead of wrapping") {
    val df = Seq((1L, java.lang.Long.valueOf(Long.MinValue)),
      (2L, java.lang.Long.valueOf(10L))).toDF("id", "b")
    val w = Window.orderBy(col("b").desc).rangeBetween(-2, 0)
    val e = intercept[Exception] {
      df.select(count_distinct(col("id")).over(w)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("ARITHMETIC_OVERFLOW") ||
      m.contains("overflow")), s"got: ${msgs(e).mkString(" | ")}")
  }

  /** Brute force for the DESC cumulative quadrants ("distinct from
    * here FORWARD"): frame = buckets ≥ b. DESC NULLS FIRST puts the
    * null peer group BEFORE the largest bucket (every non-null frame
    * includes it, null rows see only themselves); DESC NULLS LAST is
    * the mirror (non-null frames exclude nulls, null rows see the
    * whole partition). */
  private def bruteCumDesc(
      rows: Seq[(String, java.lang.Long, java.lang.Long)],
      nullsLast: Boolean)
      : Map[(String, Option[Long]), (Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          (b, nullsLast) match {
            case (Some(bv), false) => rb.isEmpty || rb.exists(_ >= bv)
            case (Some(bv), true)  => rb.exists(_ >= bv)
            case (None, false)     => rb.isEmpty
            case (None, true)      => true
          }
        }.flatMap(r => Option(r._3).map(_.longValue)).distinct
        (g, b) -> ((ids.size.toLong,
          if (ids.isEmpty) None else Some(ids.sum)))
      }
    }

  test("DESC over the UNBOUNDED frame IS claimed (round 15 — flips " +
      "the r14 negative): both DESC null orderings match the " +
      "reverse-cumulative brute force on negated buckets") {
    val rnd = new scala.util.Random(6161)
    for (trial <- 0 until 4; nullsLast <- Seq(false, true)) {
      val nGroups = 1 + rnd.nextInt(3)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(40 + rnd.nextInt(60)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          val b: java.lang.Long = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(25).toLong)
          val id: java.lang.Long = if (rnd.nextInt(6) == 0) null
            else java.lang.Long.valueOf((rnd.nextInt(12) - 5).toLong)
          (g, b, id)
        }
      val df = rows.toDF("g", "b", "id")
      val ord = if (nullsLast) col("b").desc_nulls_last
                else col("b").desc_nulls_first
      val w = Window.partitionBy("g").orderBy(ord)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val out = df.select(col("g"), col("b"),
        count_distinct(col("id")).over(w).as("c"),
        sum_distinct(col("id")).over(w).as("sd"))
      val survivors = out.queryExecution.optimizedPlan.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      assert(survivors.isEmpty,
        "DESC cumulative distinct must be rewritten")
      val got = out.collect()
        .map(r => ((r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      val want = bruteCumDesc(rows, nullsLast)
      got.foreach { case (k, v) =>
        assert(v == want(k), s"trial $trial nullsLast=$nullsLast key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("FILTER clauses are structurally unclaimable: stock Spark " +
      "raises from ExtractWindowExpressions before any Window node " +
      "exists, so the stock error is preserved verbatim") {
    val df = Seq((1L, 2L, 10L)).toDF("id", "y", "b")
    df.createOrReplaceTempView("rdf_sql_t")
    try {
      val e = intercept[Exception] {
        spark.sql(
          """SELECT count(DISTINCT id) FILTER (WHERE y > 0) OVER
               (ORDER BY b RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
             FROM rdf_sql_t""").collect()
      }
      assert(e.getMessage.contains("filter predicate is not supported"))
    } finally spark.catalog.dropTempView("rdf_sql_t")
  }

  // ---- round-14: the operator guards (r13 ADVICE lows) ----

  test("bucket-span guard (round 17): the REWRITE no longer touches it " +
      "— a sparse order domain past the cap computes fine through the " +
      "sparse lowering; only the dense direct operator still guards") {
    val key = "spark.graft.rollingDistinct.maxBucketSpan"
    spark.conf.set(key, "1000")
    try {
      val df = Seq((1L, 0L), (2L, 50000L), (1L, 50003L))
        .toDF("id", "b")
      // rewrite path: span 50003 >> cap 1000, but the sparse plan
      // materializes only observed buckets — works, and the values
      // match the naive frame semantics
      val w = Window.orderBy(col("b")).rangeBetween(-6, 0)
      val out = df.select(col("b"),
        count_distinct(col("id")).over(w).as("c"))
      assertRewritten(out, "sparse-domain rewrite")
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .sorted == Seq((0L, 1L), (50000L, 1L), (50003L, 2L)))
      // dense direct operator: the documented one-row-per-span-bucket
      // contract cannot be sparse, so the guard still fails fast with
      // the quantize hint
      val e = intercept[Exception] {
        graft.operators.RollingDistinct
          .trailingDistinct(df, "id", "b", 7).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("maxBucketSpan")),
        s"got: ${msgs(e).mkString(" | ")}")
    } finally spark.conf.unset(key)
  }

  // ---- round-16: offset range frames (r15 verdict item 2) and
  // expression targets (item 5) ----

  /** Brute force for ANY same-side offset frame, direction-aware: the
    * frame of a non-null bucket b is order values in [b+lo, b+hi]
    * under ASC and [b−hi, b−lo] under DESC (PRECEDING = larger values
    * there); null-bucket rows stay ONE peer frame under any finite
    * bounds (measured in DuckDB — even strictly-offset ones). */
  private def bruteOffset(
      rows: Seq[(String, java.lang.Long, java.lang.Long)],
      lo: Long, hi: Long, desc: Boolean)
      : Map[(String, Option[Long]), (Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          b match {
            case Some(bv) =>
              val (fl, fh) =
                if (desc) (bv - hi, bv - lo) else (bv + lo, bv + hi)
              rb.exists(x => x >= fl && x <= fh)
            case None => rb.isEmpty
          }
        }.flatMap(r => Option(r._3).map(_.longValue)).distinct
        (g, b) -> ((ids.size.toLong,
          if (ids.isEmpty) None else Some(ids.sum)))
      }
    }

  private def assertRewritten(df: org.apache.spark.sql.DataFrame,
      what: String): Unit = {
    val survivors = df.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.windowExpressions.exists(_.exists {
            case ae: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateExpression => ae.isDistinct
            case _ => false
          }) => wn
    }
    assert(survivors.isEmpty, s"$what: distinct window agg survived")
  }

  test("OFFSET range frames (round 16): [n PREC, m PREC], the " +
      "FOLLOWING mirrors, and the peers frame — ASC and DESC, " +
      "count+sum, null buckets/ids — match brute force") {
    val rnd = new scala.util.Random(1616)
    for (trial <- 0 until 12) {
      val nGroups = 1 + rnd.nextInt(3)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(40 + rnd.nextInt(80)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          val b: java.lang.Long = if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(25).toLong)
          val id: java.lang.Long = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(12).toLong)
          (g, b, id)
        }
      val m = rnd.nextInt(5).toLong
      val n = m + rnd.nextInt(6).toLong // n ≥ m ≥ 0
      val (lo, hi) = rnd.nextInt(4) match {
        case 0 => (-n, -m) // preceding side (m = 0: classic trailing)
        case 1 => (m, n)   // following side
        case 2 => (-n, m)  // STRADDLING (round-16 generalization)
        case _ => (0L, 0L) // degenerate peers frame
      }
      val desc = rnd.nextBoolean()
      val df = rows.toDF("g", "b", "id")
      val ord = if (desc) col("b").desc else col("b")
      val w = Window.partitionBy("g").orderBy(ord).rangeBetween(lo, hi)
      val out = df.select(col("g"), col("b"),
        count_distinct(col("id")).over(w).as("c"),
        sum_distinct(col("id")).over(w).as("s"))
      assertRewritten(out, s"trial $trial [$lo,$hi] desc=$desc")
      val got = out.collect().map(r => ((r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))),
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      val want = bruteOffset(rows, lo, hi, desc)
      got.foreach { case (k, cs) =>
        assert(cs == want(k), s"trial $trial [$lo,$hi] desc=$desc key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("offset frame via the SQL surface: RANGE BETWEEN 6 PRECEDING " +
      "AND 2 PRECEDING matches the DataFrame path") {
    val df = Seq((1L, 10L), (2L, 11L), (3L, 12L), (4L, 14L), (5L, 18L))
      .toDF("id", "b")
    df.createOrReplaceTempView("rdr_off_t")
    try {
      val viaSql = spark.sql(
        """SELECT b, count(DISTINCT id) OVER
             (ORDER BY b RANGE BETWEEN 6 PRECEDING AND 2 PRECEDING) AS u
           FROM rdr_off_t""")
      assertRewritten(viaSql, "sql offset frame")
      val got = viaSql.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
      // frames: 10→[4,8] {}; 11→[5,9] {}; 12→[6,10] {1}; 14→[8,12]
      // {1,2,3}; 18→[12,16] {3,4}
      assert(got == Seq((10L, 0L), (11L, 0L), (12L, 1L),
        (14L, 3L), (18L, 2L)))
      val w = Window.orderBy(col("b")).rangeBetween(-6, -2)
      val viaDf = df.select(col("b"),
          count_distinct(col("id")).over(w).as("u"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == viaDf)
    } finally spark.catalog.dropTempView("rdr_off_t")
  }

  test("EXPRESSION distinct target (round 16): count+sum(DISTINCT " +
      "expr) over cumulative, offset-range, and rows frames equals " +
      "the pre-projected attribute form") {
    val rnd = new scala.util.Random(2616)
    val rows = Seq.fill(120)((s"g${rnd.nextInt(3)}",
      rnd.nextInt(20).toLong, rnd.nextDouble() * 8))
    val df = rows.toDF("g", "b", "v")
    val target = expr("CAST(floor(v * 4) AS BIGINT)")
    val frames = Seq(
      Window.partitionBy("g").orderBy(col("b"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow),
      Window.partitionBy("g").orderBy(col("b")).rangeBetween(-5, -2),
      Window.partitionBy("g").orderBy(col("b"), col("v"))
        .rowsBetween(-4, 2))
    frames.zipWithIndex.foreach { case (w, i) =>
      val direct = df.select(col("g"), col("b"), col("v"),
        count_distinct(target).over(w).as("c"),
        sum_distinct(target).over(w).as("s"))
      assertRewritten(direct, s"expr target frame $i")
      // the round-15 path: project the expression FIRST, rewrite on
      // the attribute — the widened rule must agree exactly
      val pre = df.withColumn("t", target)
        .select(col("g"), col("b"), col("v"),
          count_distinct(col("t")).over(w).as("c"),
          sum_distinct(col("t")).over(w).as("s"))
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getLong(1), r.getDouble(2))
      val gotD = direct.collect().map(r => key(r) ->
        ((r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
      val gotP = pre.collect().map(r => key(r) ->
        ((r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
      assert(gotD.sortBy(_._1.toString) === gotP.sortBy(_._1.toString),
        s"frame $i")
    }
  }

  test("non-deterministic distinct target: the analyzer's " +
      "PullOutNondeterministic canonicalizes rand() into a per-row " +
      "projected ATTRIBUTE before the rule fires — execution succeeds " +
      "with exactly one draw per row (the eligibleId determinism " +
      "guard is unreachable defense-in-depth on this path)") {
    val df = spark.range(50).toDF("b")
    val w = Window.orderBy(col("b"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val out = df.select(col("b"),
      count_distinct(floor(rand(7) * 5).cast("long")).over(w).as("c"))
    assertRewritten(out, "pulled-out nondeterministic target")
    val got = out.orderBy(col("b")).collect().map(_.getLong(1))
    // one draw per row, fixed below the frame: the cumulative distinct
    // count is non-decreasing and bounded by the 5 possible buckets
    assert(got.length == 50 && got.head >= 1 && got.max <= 5)
    assert(got.sliding(2).forall(p => p(0) <= p(1)))
  }

  test("STRADDLING range frame [2 PRECEDING, 1 FOLLOWING] IS claimed " +
      "(the trailing-4 window probed at the future bucket b+1) — " +
      "hand values match DuckDB's measured semantics") {
    // the DuckDB measurement this pins: days 1,2,3,5,8 + null rows —
    // frames [d−2, d+1]; null rows keep the peer group
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (10L, 1L), (20L, 2L), (30L, 3L), (50L, 5L), (80L, 8L),
      (99L, null), (98L, null)).toDF("id", "b")
    val w1 = Window.orderBy(col("b")).rangeBetween(-2, 1)
    val out = df.select(col("b"),
      count_distinct(col("id")).over(w1).as("c"),
      sum_distinct(col("id")).over(w1).as("s"))
    assertRewritten(out, "straddling frame")
    val got = out.collect().map(r =>
      ((if (r.isNullAt(0)) None else Some(r.getLong(0))),
        r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    assert(got == Set(
      (Some(1L), 2L, Some(30L)), (Some(2L), 3L, Some(60L)),
      (Some(3L), 3L, Some(60L)), (Some(5L), 2L, Some(80L)),
      (Some(8L), 1L, Some(80L)), (None, 2L, Some(197L))))
  }

  /** Brute force for CUMULATIVE-TO-OFFSET [UNBOUNDED, u]: a non-null
    * row's frame is {buckets ≤ b+u} under ASC / {buckets ≥ b−u} under
    * DESC, including the null peer group iff NULLS FIRST; null rows
    * keep the peer group (NULLS FIRST) or see the whole partition
    * (NULLS LAST) — all measured in DuckDB, identical to the
    * CURRENT ROW upper. */
  private def bruteCumOffset(
      rows: Seq[(String, java.lang.Long, java.lang.Long)],
      u: Long, desc: Boolean, nullsLast: Boolean)
      : Map[(String, Option[Long]), (Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val buckets = rs.map(r => Option(r._2).map(_.longValue)).distinct
      buckets.map { b =>
        val ids = rs.filter { r =>
          val rb = Option(r._2).map(_.longValue)
          b match {
            case Some(bv) => rb match {
              case Some(x) => if (desc) x >= bv - u else x <= bv + u
              case None    => !nullsLast
            }
            case None => if (nullsLast) true else rb.isEmpty
          }
        }.flatMap(r => Option(r._3).map(_.longValue)).distinct
        (g, b) -> ((ids.size.toLong,
          if (ids.isEmpty) None else Some(ids.sum)))
      }
    }

  test("CUMULATIVE-TO-OFFSET (round 16): [UNBOUNDED, u] for u both " +
      "PRECEDING and FOLLOWING, all four direction x null-ordering " +
      "quadrants — count+sum match brute force; the rewrite fires") {
    val rnd = new scala.util.Random(3616)
    for (trial <- 0 until 12) {
      val nGroups = 1 + rnd.nextInt(3)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(40 + rnd.nextInt(80)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          val b: java.lang.Long = if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(25).toLong)
          val id: java.lang.Long = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(12).toLong)
          (g, b, id)
        }
      val u = (rnd.nextInt(9) - 4).toLong match {
        case 0L => -1L // u = 0 is the plain cumulative arm, tested above
        case x  => x
      }
      val desc = rnd.nextBoolean()
      val nullsLast = rnd.nextBoolean()
      val df = rows.toDF("g", "b", "id")
      val ord = (desc, nullsLast) match {
        case (false, false) => col("b").asc_nulls_first
        case (false, true)  => col("b").asc_nulls_last
        case (true, false)  => col("b").desc_nulls_first
        case (true, true)   => col("b").desc_nulls_last
      }
      val w = Window.partitionBy("g").orderBy(ord)
        .rangeBetween(Window.unboundedPreceding, u)
      val out = df.select(col("g"), col("b"),
        count_distinct(col("id")).over(w).as("c"),
        sum_distinct(col("id")).over(w).as("s"))
      assertRewritten(out, s"trial $trial u=$u desc=$desc nl=$nullsLast")
      val got = out.collect().map(r => ((r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))),
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      val want = bruteCumOffset(rows, u, desc, nullsLast)
      got.foreach { case (k, cs) =>
        assert(cs == want(k),
          s"trial $trial u=$u desc=$desc nl=$nullsLast key=$k")
      }
      assert(got.length == rows.length)
    }
  }

  test("MULTI-ARGUMENT COUNT(DISTINCT a, b) (round 16): the " +
      "synthesized null-guarded struct target matches SQL tuple " +
      "semantics (any-null rows uncounted) over cumulative, offset " +
      "and rows frames") {
    val rnd = new scala.util.Random(4616)
    val rows: Seq[(String, Long, java.lang.Long, java.lang.Long)] =
      Seq.fill(150) {
        val g = s"g${rnd.nextInt(3)}"
        val b = rnd.nextInt(20).toLong
        val a: java.lang.Long = if (rnd.nextInt(7) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(5).toLong)
        val c: java.lang.Long = if (rnd.nextInt(7) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(4).toLong)
        (g, b, a, c)
      }
    val df = rows.toDF("g", "b", "x", "y")
    def bruteCum(lo: Long => Long => Boolean)
        : Map[(String, Long), Long] =
      rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.map(_._2).distinct.map { b =>
          val pairs = rs.filter(r => lo(b)(r._2))
            .collect { case (_, _, a, c) if a != null && c != null =>
              (a.longValue, c.longValue) }.distinct
          (g, b) -> pairs.size.toLong
        }
      }
    // cumulative
    val wc = Window.partitionBy("g").orderBy(col("b"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val gotC = df.select(col("g"), col("b"),
      count_distinct(col("x"), col("y")).over(wc).as("c"))
    assertRewritten(gotC, "multi-arg cumulative")
    gotC.collect().foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      assert(r.getLong(2) == bruteCum(b => rb => rb <= b)(k), s"cum $k")
    }
    // strictly-offset
    val wo = Window.partitionBy("g").orderBy(col("b"))
      .rangeBetween(-5, -2)
    val gotO = df.select(col("g"), col("b"),
      count_distinct(col("x"), col("y")).over(wo).as("c"))
    assertRewritten(gotO, "multi-arg offset")
    gotO.collect().foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      assert(r.getLong(2) ==
        bruteCum(b => rb => rb >= b - 5 && rb <= b - 2)(k), s"off $k")
    }
    // rows frame (positional — brute via sorted scan per group)
    val wr = Window.partitionBy("g").orderBy(col("b"), col("x"), col("y"))
      .rowsBetween(-3, 0)
    val gotR = df.select(col("g"), col("b"), col("x"), col("y"),
      count_distinct(col("x"), col("y")).over(wr).as("c"))
    assertRewritten(gotR, "multi-arg rows")
    val byG = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.sortBy(r => (r._2, Option(r._3).map(_.longValue),
        Option(r._4).map(_.longValue)))
    }
    // the sort has ties (duplicate (b,x,y) tuples) — a rows frame over
    // ties is engine-order-dependent in general, but the COUNT of
    // distinct non-null tuples in any 4-row window of EQUAL rows is
    // tie-invariant here because tied rows are identical tuples
    gotR.collect()
      .groupBy(_.getString(0)).foreach { case (g, got) =>
        val sortedGot = got.sortBy(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        val src = byG(g)
        sortedGot.zipWithIndex.foreach { case (r, i) =>
          val frame = src.slice(math.max(0, i - 3), i + 1)
          val want = frame.collect {
            case (_, _, a, c) if a != null && c != null =>
              (a.longValue, c.longValue)
          }.distinct.size.toLong
          assert(r.getLong(4) == want, s"rows $g idx $i")
        }
      }
  }

  test("THREE-argument COUNT(DISTINCT a, b, c): the struct synthesis " +
      "generalizes past pairs — any-null rows uncounted") {
    val df = Seq[(Long, java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 1L, 2L, 3L), (2L, 1L, 2L, 3L),   // duplicate triple
      (3L, 1L, 2L, 4L),                     // distinct triple
      (4L, 1L, null, 3L), (5L, null, 2L, 3L) // any-null → uncounted
    ).toDF("b", "x", "y", "z")
    val w = Window.orderBy(col("b"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val out = df.select(col("b"),
      count_distinct(col("x"), col("y"), col("z")).over(w).as("c"))
    assertRewritten(out, "three-arg count")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .sorted
    // prefixes: b=1 {(1,2,3)}; b=2 same; b=3 +(1,2,4); b=4,5 add
    // null-bearing rows — uncounted
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L), (5L, 2L)))
  }

  test("DATE order key (round 16): integer day bounds over a DATE " +
      "column rewrite — trailing and strictly-offset hand values " +
      "match DuckDB's measured native semantics; INTERVAL bounds " +
      "stay stock-rejected") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val df = Seq((d("2024-01-01"), 1L), (d("2024-01-05"), 2L),
      (d("2024-01-09"), 1L)).toDF("d", "uid")
    df.createOrReplaceTempView("rdr_date_t")
    try {
      // trailing [d−6, d]: measured DuckDB values 1, 2, 2
      val trail = spark.sql(
        """SELECT d, count(DISTINCT uid) OVER
             (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             AS c FROM rdr_date_t""")
      assertRewritten(trail, "date trailing")
      assert(trail.collect().map(r => (r.getDate(0).toString,
        r.getLong(1))).toSeq.sorted ==
        Seq(("2024-01-01", 1L), ("2024-01-05", 2L), ("2024-01-09", 2L)))
      // strictly-offset [d−6, d−2]: measured DuckDB values 0, 1, 1
      val off = spark.sql(
        """SELECT d, count(DISTINCT uid) OVER
             (ORDER BY d RANGE BETWEEN 6 PRECEDING AND 2 PRECEDING)
             AS c FROM rdr_date_t""")
      assertRewritten(off, "date strictly-offset")
      assert(off.collect().map(r => (r.getDate(0).toString,
        r.getLong(1))).toSeq.sorted ==
        Seq(("2024-01-01", 0L), ("2024-01-05", 1L), ("2024-01-09", 1L)))
      // YearMonthInterval bound: evals to an int of MONTHS — must NOT
      // be misread as days; the boundary type guard keeps the stock
      // rejection
      val e = intercept[Exception] {
        spark.sql(
          """SELECT d, count(DISTINCT uid) OVER
               (ORDER BY d RANGE BETWEEN INTERVAL '1' MONTH PRECEDING
                AND CURRENT ROW) AS c FROM rdr_date_t""").collect()
      }
      assert(e.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
    } finally spark.catalog.dropTempView("rdr_date_t")
  }

  test("cumulative-to-offset via the SQL surface: UNBOUNDED " +
      "PRECEDING AND 2 PRECEDING matches hand values") {
    val df = Seq((1L, 10L), (2L, 11L), (1L, 12L), (3L, 14L))
      .toDF("id", "b")
    df.createOrReplaceTempView("rdr_cumoff_t")
    try {
      val got = spark.sql(
        """SELECT b, count(DISTINCT id) OVER
             (ORDER BY b RANGE BETWEEN UNBOUNDED PRECEDING
              AND 2 PRECEDING) AS u
           FROM rdr_cumoff_t""")
      assertRewritten(got, "sql cumulative-to-offset")
      val vals = got.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
      // frames: 10 → ≤8 {}; 11 → ≤9 {}; 12 → ≤10 {1}; 14 → ≤12 {1,2}
      assert(vals == Seq((10L, 0L), (11L, 0L), (12L, 1L), (14L, 2L)))
    } finally spark.catalog.dropTempView("rdr_cumoff_t")
  }

  // ---- round 17: sparse-spine lowering (r16 verdict item 1), the
  // TIMESTAMP/DayTimeInterval claim (item 2), the Long-exact sum
  // carrier, and the maxLag=0 disable (r16 ADVICE) ----

  test("sparse domains (round 17): offset and straddling frames over a " +
      "micros-scale bucket domain — far past the old span cap — match " +
      "brute force, including frame offsets wider than Int.MaxValue") {
    val rnd = new scala.util.Random(1717)
    val HOUR = 3600L * 1000000L // 3.6e9 µs — itself past Int.MaxValue
    for (trial <- 0 until 6) {
      val nGroups = 1 + rnd.nextInt(2)
      val rows: Seq[(String, java.lang.Long, java.lang.Long)] =
        Seq.fill(50 + rnd.nextInt(60)) {
          val g = s"g${rnd.nextInt(nGroups)}"
          val b: java.lang.Long = if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(
              1700000000000000L + rnd.nextInt(96).toLong * HOUR +
                rnd.nextInt(1000).toLong)
          val id: java.lang.Long = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(12).toLong)
          (g, b, id)
        }
      val df = rows.toDF("g", "b", "id")
      // frames in whole hours of micros: trailing, strictly-offset,
      // straddling — all with |bounds| ≥ 1 hour ≫ Int.MaxValue
      val (lo, hi) = rnd.nextInt(3) match {
        case 0 => (-6 * HOUR, 0L)
        case 1 => (-8 * HOUR, -2 * HOUR)
        case _ => (-4 * HOUR, 3 * HOUR)
      }
      val w = Window.partitionBy(col("g")).orderBy(col("b"))
        .rangeBetween(lo, hi)
      val out = df.select(col("g"), col("b"),
        count_distinct(col("id")).over(w).as("c"),
        sum_distinct(col("id")).over(w).as("s"))
      assertRewritten(out, s"sparse trial $trial")
      val want = bruteOffset(rows, lo, hi, desc = false)
      out.collect().foreach { r =>
        val k = (r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))
        val (wc, ws) = want(k)
        assert(r.getLong(2) == wc, s"trial $trial count at $k")
        assert((if (r.isNullAt(3)) None else Some(r.getLong(3))) == ws,
          s"trial $trial sum at $k")
      }
    }
  }

  test("TIMESTAMP order key + DayTimeInterval bounds (round 17): " +
      "trailing INTERVAL DAY/HOUR frames rewrite and match hand " +
      "values at micros precision") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (ts("2024-01-01 00:00:00.000001"), 1L),
      (ts("2024-01-02 23:59:59.999999"), 2L),
      (ts("2024-01-03 00:00:00.000001"), 1L),
      (ts("2024-01-05 12:00:00.0"), 3L)).toDF("t", "uid")
    df.createOrReplaceTempView("rdr_ts_t")
    try {
      // [t − 2 days, t]: micros arithmetic — row 3's frame starts at
      // 2024-01-01 00:00:00.000001, so it INCLUDES row 1 exactly
      val trail = spark.sql(
        """SELECT t, count(DISTINCT uid) OVER
             (ORDER BY t RANGE BETWEEN INTERVAL '2' DAY PRECEDING
              AND CURRENT ROW) AS c FROM rdr_ts_t""")
      assertRewritten(trail, "ts interval trailing")
      assert(trail.collect().map(r => (r.getTimestamp(0).toString,
        r.getLong(1))).toSeq.sorted == Seq(
        ("2024-01-01 00:00:00.000001", 1L),
        ("2024-01-02 23:59:59.999999", 2L),
        ("2024-01-03 00:00:00.000001", 2L),
        ("2024-01-05 12:00:00.0", 1L)))
      // strictly-offset hour bounds, mixed granularity: [t−48h, t−12h]
      val off = spark.sql(
        """SELECT t, count(DISTINCT uid) OVER
             (ORDER BY t RANGE BETWEEN INTERVAL '48' HOUR PRECEDING
              AND INTERVAL '12' HOUR PRECEDING) AS c FROM rdr_ts_t""")
      assertRewritten(off, "ts interval strictly-offset")
      // hand frames:
      //   r1 [12-30, 12-31 12:00:00.000001] → {} → 0
      //   r2 [12-31 23:59:59.999999, 01-02 11:59:59.999999]
      //     → contains r1 → 1
      //   r3 [01-01 00:00:00.000001, 01-02 12:00:00.000001]
      //     → r1 equals the start micro exactly (inclusive) → 1
      //   r4 [01-03 12:00, 01-05 00:00] → r3 is 12h before the start
      //     → 0
      assert(off.collect().map(r => (r.getTimestamp(0).toString,
        r.getLong(1))).toSeq.sorted == Seq(
        ("2024-01-01 00:00:00.000001", 0L),
        ("2024-01-02 23:59:59.999999", 1L),
        ("2024-01-03 00:00:00.000001", 1L),
        ("2024-01-05 12:00:00.0", 0L)))
      // YearMonthInterval bound over TIMESTAMP: month buckets are not
      // fixed-width — stays stock-rejected
      val e1 = intercept[Exception] {
        spark.sql(
          """SELECT t, count(DISTINCT uid) OVER
               (ORDER BY t RANGE BETWEEN INTERVAL '1' MONTH PRECEDING
                AND CURRENT ROW) AS c FROM rdr_ts_t""").collect()
      }
      assert(e1.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
      // integer bound over TIMESTAMP: stock-INVALID frame — claiming
      // it would legalize what stock rejects, so it stays unclaimed
      // (stock raises its frame-type error, not the DISTINCT one)
      val e2 = intercept[Exception] {
        spark.sql(
          """SELECT t, count(DISTINCT uid) OVER
               (ORDER BY t RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS c FROM rdr_ts_t""").collect()
      }
      assert(!e2.getMessage.contains("maxBucketSpan"))
    } finally spark.catalog.dropTempView("rdr_ts_t")
  }

  test("TIMESTAMP cumulative-to-interval-offset: UNBOUNDED PRECEDING " +
      "AND INTERVAL '1' DAY FOLLOWING rides the shifted-probe arm") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (ts("2024-01-01 06:00:00"), 1L),
      (ts("2024-01-02 05:00:00"), 2L),
      (ts("2024-01-04 00:00:00"), 3L)).toDF("t", "uid")
    df.createOrReplaceTempView("rdr_ts_cum_t")
    try {
      val got = spark.sql(
        """SELECT t, count(DISTINCT uid) OVER
             (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
              AND INTERVAL '1' DAY FOLLOWING) AS c FROM rdr_ts_cum_t""")
      assertRewritten(got, "ts cumulative-to-offset")
      // frames: r1 ≤ 01-02 06:00 → {1,2}; r2 ≤ 01-03 05:00 → {1,2};
      // r3 ≤ 01-05 → all
      assert(got.collect().map(r => (r.getTimestamp(0).toString,
        r.getLong(1))).toSeq.sorted == Seq(
        ("2024-01-01 06:00:00.0", 2L),
        ("2024-01-02 05:00:00.0", 2L),
        ("2024-01-04 00:00:00.0", 3L)))
    } finally spark.catalog.dropTempView("rdr_ts_cum_t")
  }

  test("Long-exact distinct sums (round 17, r16 ADVICE): SUM(DISTINCT) " +
      "with magnitudes past 2^53 is exact through the rewrite — the " +
      "double carrier would have rounded") {
    val big = (1L << 53) + 1L // not representable as a double
    val df = Seq((big, 1L), (3L, 1L), (big, 2L), (5L, 3L))
      .toDF("v", "b")
    val w = Window.orderBy(col("b"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val out = df.select(col("b"),
      sum_distinct(col("v")).over(w).as("s"))
    assertRewritten(out, "big sum")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(got == Seq((1L, big + 3L), (1L, big + 3L), (2L, big + 3L),
      (3L, big + 8L)),
      s"got $got — a double-rounded carrier would drop the +1")
  }

  test("maxLag <= 0 unclaims ALL rows frames (r16 ADVICE): even the " +
      "degenerate [0, 0] frame keeps the stock rejection") {
    val key = "spark.graft.rowsDistinct.maxLag"
    spark.conf.set(key, "0")
    try {
      val df = Seq((1L, 10L)).toDF("id", "b")
      val w = Window.orderBy(col("b")).rowsBetween(0, 0)
      val e = intercept[Exception] {
        df.select(count_distinct(col("id")).over(w)).collect()
      }
      assert(e.getMessage.contains("DISTINCT_WINDOW_FUNCTION_UNSUPPORTED"))
    } finally spark.conf.unset(key)
  }

  test("null-sentinel guard: a legitimate Long.MinValue bucket in the " +
      "cumulative frame raises instead of conflating with nulls") {
    val df = Seq((1L, java.lang.Long.valueOf(Long.MinValue)),
      (2L, java.lang.Long.valueOf(Long.MinValue + 5)))
      .toDF("id", "b")
    val e = intercept[Exception] {
      graft.operators.RollingDistinct.groupedCumulativeDistinctSum(
        df, by = Nil, valueCol = "id", bucketCol = "b",
        cntCol = "c", sumCol = Some("s")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("sentinel")),
      s"got: ${msgs(e).mkString(" | ")}")
  }

  test("cumulative COUNT(DISTINCT) carries no sum: 64-bit-sized ids in " +
      "one bucket count to 2 under both null orderings, while " +
      "SUM(DISTINCT) over the same rows still overflows loudly") {
    Seq(("g", 1L, 9000000000000000000L), ("g", 1L, 8000000000000000000L))
      .toDF("g", "b", "x").createOrReplaceTempView("rd_big_ids")
    for (ord <- Seq("b", "b ASC NULLS LAST")) {
      val got = spark.sql("SELECT count(DISTINCT x) OVER " +
          s"(PARTITION BY g ORDER BY $ord) AS c FROM rd_big_ids")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(2L, 2L), ord)
    }
    val e = intercept[Exception] {
      spark.sql("SELECT sum(DISTINCT x) OVER (PARTITION BY g ORDER BY b) " +
        "AS s FROM rd_big_ids").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("ARITHMETIC_OVERFLOW") ||
      m.contains("overflow")), msgs(e).mkString(" | "))
  }

  test("analyzing a distinct range window starts no Spark job") {
    Seq(("g", 1L, 5L), ("g", 3L, 6L), ("h", 9L, 5L))
      .toDF("g", "b", "x").createOrReplaceTempView("rd_no_jobs")
    val jobs = SparkTestSession.jobsDuring {
      spark.sql("SELECT g, b, count(DISTINCT x) OVER (ORDER BY b " +
        "RANGE 6 PRECEDING) AS c FROM rd_no_jobs").queryExecution.analyzed
    }
    assert(jobs == 0, s"$jobs Spark jobs ran during analysis")
  }
}

