package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GlobalWindow

class GlobalWindowSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private lazy val orders =
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  /** `body` with `n` range partitions. AQE must not coalesce them (it
    * folds tiny inputs into one partition, leaving the carries unused). */
  private def withParts[T](n: Int, aqe: Boolean = true)(body: => T): T =
    SparkTestSession.withConf("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.enabled" -> aqe.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  test("two-pass cumSum equals the single-partition global window") {
    val single = orders.withColumn("cs",
      sum($"o_totalprice").over(Window.orderBy($"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"o_orderkey", $"cs")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scaled = withParts(8) {
      GlobalWindow.cumSum(orders, Seq($"o_orderkey"), "o_totalprice", "cs")
        .select($"o_orderkey", $"cs")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(scaled.keySet == single.keySet)
    // FP reassociation across partitions: equal within relative ulps
    scaled.foreach { case (k, v) =>
      assert(math.abs(v - single(k)) <= 1e-9 * math.max(1.0, math.abs(single(k))),
        s"key $k: $v vs ${single(k)}")
    }
  }

  test("handles nulls (skipped) and empty partitions") {
    val df = Seq((1L, Some(1.0)), (2L, None), (3L, Some(2.0))).toDF("k", "v")
    val out = withParts(8) { // 8 partitions for 3 rows → empties exist
      GlobalWindow.cumSum(df, Seq($"k"), "v", "cs")
        .orderBy("k").select("cs").collect().map(_.getDouble(0)).toSeq
    }
    assert(out == Seq(1.0, 1.0, 3.0))
  }

  test("leading nulls give NULL, matching window-sum semantics") {
    val df = Seq((1L, None), (2L, None), (3L, Some(2.0)), (4L, None))
      .toDF("k", "v")
    val out = withParts(4) {
      GlobalWindow.cumSum(df, Seq($"k"), "v", "cs")
        .orderBy("k").select("cs").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    }
    assert(out == Seq(None, None, Some(2.0), Some(2.0)))
  }

  test("desc order keys range-exchange in their declared direction, " +
      "no spark_partition_id") {
    val df = Seq((3L, 1.0), (2L, 2.0), (1L, 4.0)).toDF("k", "v")
    withParts(2) {
      val out = GlobalWindow.cumSum(df, Seq($"k".desc), "v", "cs")
      val got = out.orderBy($"k".desc).select("cs").collect()
        .map(_.getDouble(0)).toSeq
      assert(got == Seq(1.0, 3.0, 7.0))
      val analyzed = out.queryExecution.analyzed.toString.toLowerCase
      assert(!analyzed.contains("spark_partition_id"),
        "desc-key path must not depend on spark_partition_id")
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("rangepartitioning(k#") && p.contains("DESC NULLS LAST"),
        s"desc-key path must range-exchange on k DESC:\n$p")
    }
  }

  test("desc cumsum over a real table matches the single-partition window") {
    val w = Window.orderBy($"o_orderkey".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val single = orders.withColumn("cs", sum($"o_totalprice").over(w))
      .select($"o_orderkey", $"cs").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scaled = withParts(8) {
      GlobalWindow.cumSum(orders, Seq($"o_orderkey".desc),
          "o_totalprice", "cs")
        .select($"o_orderkey", $"cs").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(scaled.keySet == single.keySet)
    // FP prefix sums reassociate across ranges — compare within ulps
    scaled.foreach { case (k, v) =>
      assert(math.abs(v - single(k)) <= 1e-6 * (1 + single(k).abs),
        s"key $k: $v vs ${single(k)}")
    }
  }

  test("mixed-direction multi-key with nulls matches the plain window") {
    // g asc_nulls_last, k desc: exercises the per-field lexicographic
    // comparator (direction + null ordering per field) end-to-end
    val df = Seq((Some(2L), 1L, 1.0), (Some(1L), 2L, 2.0), (None, 3L, 4.0),
        (Some(1L), 4L, 8.0), (None, 5L, 16.0), (Some(2L), 6L, 32.0))
      .toDF("a", "k", "v")
    val w = Window.orderBy($"a".asc_nulls_last, $"k".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val single = df.withColumn("cs", sum($"v").over(w))
      .select($"k", $"cs").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scaled = withParts(3) {
      GlobalWindow.cumSum(df, Seq($"a".asc_nulls_last, $"k".desc), "v", "cs")
        .select($"k", $"cs").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(scaled == single)
  }

  test("groupedCumSum equals the per-group window, with G×P parallelism") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))
    val single = li.withColumn("cs", sum($"l_quantity").over(w))
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey", $"cs")
      .collect().map(r => key(r) -> r.getDouble(4)).toMap
    val scaled = withParts(8) {
      GlobalWindow.groupedCumSum(li, Seq("l_returnflag"),
          Seq($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey"),
          "l_quantity", "cs")
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"cs")
        .collect().map(r => key(r) -> r.getDouble(4)).toMap
    }
    assert(scaled.keySet == single.keySet)
    // l_quantity is integer-valued: partitioned summation is bit-exact
    scaled.foreach { case (k, v) => assert(v == single(k), s"key $k") }
  }

  test("groupedCumSumLong (round 17): int64-exact past 2^53 where the " +
      "double carrier rounds, nulls/null-group semantics match the " +
      "plain window, and overflow is a loud ANSI error") {
    val big = (1L << 53) + 1L
    val df = Seq((Some("a"), 1L, Some(big)), (Some("a"), 2L, Some(1L)),
        (Some("a"), 3L, None), (None, 1L, Some(2L)), (None, 2L, Some(big)))
      .toDF("g", "k", "v")
    val got = withParts(4) {
      GlobalWindow.groupedCumSumLong(df, Seq("g"), Seq($"k"), "v", "cs")
        .collect().map(r => (Option(r.getString(0)), r.getLong(1)) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    }
    // exact: big + 1 is NOT representable as a double (2^53 + 2 is,
    // but the running value big+1 would round to big on the double
    // path before the +1 lands... the point: these asserts fail on a
    // double carrier)
    assert(got((Some("a"), 1L)) == Some(big))
    assert(got((Some("a"), 2L)) == Some(big + 1L))
    assert(got((Some("a"), 3L)) == Some(big + 1L))
    assert(got((None, 1L)) == Some(2L))
    assert(got((None, 2L)) == Some(big + 2L))
    // overflow: two near-max values — loud, not wrapped
    val odf = Seq((1L, Long.MaxValue - 1), (2L, Long.MaxValue - 1))
      .toDF("k", "v")
    val e = intercept[Exception] {
      GlobalWindow.cumSumLong(odf, Seq($"k"), "v", "cs").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("overflow") ||
      m.contains("ARITHMETIC_OVERFLOW")), msgs(e).mkString(" | "))
  }

  test("groupedCumSumsLong (round 17 optimization): the single-pass " +
      "multi-payload scaffold equals two sequential groupedCumSumLong " +
      "folds — per-payload null gating, null groups, 2^53-exact") {
    val big = (1L << 53) + 1L
    val df = Seq(
        (Some("a"), 1L, Some(big), None: Option[Long]),
        (Some("a"), 2L, Some(1L), Some(5L)),
        (Some("a"), 3L, None: Option[Long], Some(7L)),
        (None, 1L, Some(2L), None: Option[Long]),
        (None, 2L, Some(big), Some(1L)))
      .toDF("g", "k", "v1", "v2")
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.getString(0)), r.getLong(1))
    def opt(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val (multi, folded) = withParts(4) {
      val multi = GlobalWindow.groupedCumSumsLong(df, Seq("g"), Seq($"k"),
          Seq("v1" -> "c1", "v2" -> "c2"))
        .collect().map(r => key(r) -> (opt(r, 4), opt(r, 5))).toMap
      val fold1 = GlobalWindow.groupedCumSumLong(df, Seq("g"), Seq($"k"),
        "v1", "c1")
      val folded = GlobalWindow.groupedCumSumLong(fold1, Seq("g"), Seq($"k"),
          "v2", "c2")
        .collect().map(r => key(r) -> (opt(r, 4), opt(r, 5))).toMap
      (multi, folded)
    }
    assert(multi == folded)
    // spot semantics: leading-null payload stays NULL only until its
    // own first value (per-payload gating), exactness past 2^53
    assert(multi((Some("a"), 1L)) == (Some(big), None))
    assert(multi((Some("a"), 2L)) == (Some(big + 1L), Some(5L)))
    assert(multi((Some("a"), 3L)) == (Some(big + 1L), Some(12L)))
    assert(multi((None, 2L)) == (Some(big + 2L), Some(1L)))
  }

  test("groupedCumAgg: min/max/count/avg match the plain window") {
    import graft.operators.GlobalWindow.RunningAgg
    val df = Seq((1L, 1L, Some(5.0)), (1L, 2L, None), (1L, 3L, Some(2.0)),
        (1L, 4L, Some(7.0)), (2L, 1L, None), (2L, 2L, Some(3.0)))
      .toDF("g", "k", "v")
    val w = Window.partitionBy($"g").orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = df.select($"g", $"k",
        min($"v").over(w).as("mn"), max($"v").over(w).as("mx"),
        count($"v").over(w).as("ct"), avg($"v").over(w).as("av"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    def run(a: RunningAgg) = withParts(3) {
      graft.operators.GlobalWindow.groupedCumAgg(df, Seq("g"), Seq($"k"),
          "v", "o", a)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.get(3)).toMap
    }
    val mn = run(RunningAgg.Min)
    val mx = run(RunningAgg.Max)
    val ct = run(RunningAgg.Count)
    val av = run(RunningAgg.Avg)
    expect.foreach { case (key, Seq(emn, emx, ect, eav)) =>
      assert(mn(key) == emn, s"min $key"); assert(mx(key) == emx, s"max $key")
      assert(ct(key) == ect, s"count $key"); assert(av(key) == eav, s"avg $key")
    }
  }

  test("NULL group key is a real group (null-safe offsets join)") {
    // Window.partitionBy treats a NULL group as a group: its rows must
    // sort together and carry across partitions like any other group.
    val df = Seq((Option.empty[String], 1L, 2.0),
        (Option.empty[String], 2L, 3.0), (Some("a"), 1L, 5.0))
      .toDF("flag", "k", "v")
    val out = withParts(4) {
      GlobalWindow.groupedCumSum(df, Seq("flag"), Seq($"k"), "v", "cs")
        .orderBy($"flag".asc_nulls_first, $"k")
        .select("cs").collect().map(_.getDouble(0)).toSeq
    }
    assert(out == Seq(2.0, 5.0, 5.0))
  }

  test("no internal columns leak, no spark_partition_id") {
    val out = GlobalWindow.cumSum(orders, Seq($"o_orderkey"),
      "o_totalprice", "cs")
    assert(out.columns.toSeq == orders.columns.toSeq :+ "cs",
      s"unexpected columns: ${out.columns.mkString(",")}")
    val analyzed = out.queryExecution.analyzed.toString.toLowerCase
    assert(!analyzed.contains("spark_partition_id"),
      "partition identity must not come from spark_partition_id")
  }

  test("plan: one range exchange under the exec, no broadcast, no " +
      "partitionless window, no __gw_ column") {
    val p = withParts(8) {
      GlobalWindow.cumSum(orders, Seq($"o_orderkey"), "o_totalprice", "cs")
        .queryExecution.executedPlan
    }
    val shape = graft.plans.PlanFingerprint.shape(p)
    assert(shape.contains("RunningAggregate(Sort(ShuffleExchange("), shape)
    val text = p.toString
    assert("rangepartitioning\\(".r.findAllIn(text).size == 1 &&
      !text.contains("hashpartitioning"), s"one range exchange only:\n$text")
    assert(!text.contains("BroadcastExchange"), text)
    assert(!shape.contains("Window"), shape)
    assert(!text.contains("__gw_"), text)
  }

  test("building a frame starts no Spark job") {
    val df = Seq((Option("a"), 1L, 2L), (None, 2L, 3L)).toDF("g", "k", "v")
    val jobs = SparkTestSession.jobsDuring {
      GlobalWindow.cumSum(df, Seq($"k"), "v", "cs").queryExecution.analyzed
      GlobalWindow.groupedCumSumsLong(df, Seq("g"), Seq($"k".desc),
        Seq("v" -> "c1", "k" -> "c2")).queryExecution.executedPlan
    }
    assert(jobs == 0, s"$jobs Spark jobs ran while building the frames")
  }

  test("downstream coalesce(1) cannot corrupt the sweep (stage-merge regression)") {
    // coalesce(1) merges the sweep into one task: a partition identity
    // taken from TaskContext would read 0 for every range and apply the
    // wrong carries — the sweep must use the RDD's own partition index.
    val out = withParts(8) {
      GlobalWindow.cumSum(orders, Seq($"o_orderkey"), "o_totalprice", "cs")
        .coalesce(1)
        .orderBy($"o_orderkey").select("cs").collect().map(_.getDouble(0))
    }
    val oracle = orders.orderBy($"o_orderkey")
      .select("o_totalprice").collect().map(_.getDouble(0))
      .scanLeft(0.0)(_ + _).drop(1)
    assert(out.length == oracle.length)
    // o_totalprice is not integer-valued: partitioned summation may differ
    // by float reassociation, so compare within ulps-scale tolerance.
    out.zip(oracle).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
        s"$a != $b")
    }
  }

  test("property: every RunningAgg kind equals the plain window at 1, 3 " +
      "and 16 partitions, AQE on and off") {
    import graft.operators.GlobalWindow.RunningAgg._
    import org.scalacheck.{Gen, Prop}
    type R = (Option[Int], Option[Long], Option[Int], Option[Long],
      Option[Long], Option[String])
    // (group, a, b, v, big, s): NULL groups, NULL and duplicate order
    // keys (rid breaks ties), values past 2^53 whose prefixes stay in
    // int64
    val rowGen: Gen[R] = for {
      g <- Gen.option(Gen.choose(0, 1))
      a <- Gen.option(Gen.choose(0L, 3L))
      b <- Gen.option(Gen.choose(0, 2))
      v <- Gen.option(Gen.choose(-5L, 5L))
      big <- Gen.option(Gen.oneOf(Gen.choose(-3L, 3L),
        Gen.oneOf(1L << 57, -(1L << 57), (1L << 57) + 1)))
      s <- Gen.option(Gen.oneOf("x", "y", "zz", ""))
    } yield (g, a, b, v, big, s)
    val dirs = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](_.asc, _.desc, _.asc_nulls_last,
      _.desc_nulls_first)
    val kinds = Seq(Sum -> "v", SumLong -> "big", Count -> "v", Min -> "v",
      Max -> "s", Avg -> "v")
    def check(rows: Seq[R], da: Int, db: Int, parts: Int,
        aqe: Boolean): Boolean = {
      val df = rows.zipWithIndex.map { case ((g, a, b, v, big, s), i) =>
          (g, a, b, i.toLong, v, big, s) }
        .toDF("g", "a", "b", "rid", "v", "big", "s")
      val order = Seq(dirs(da)($"a"), dirs(db)($"b"), $"rid")
      val w = Window.partitionBy($"g").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val plain = Seq(sum($"v".cast("double")), sum($"big"), count($"v"),
        min($"v"), max($"s"), avg($"v"))
      def byRid(f: org.apache.spark.sql.DataFrame) = f.collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val want = byRid(df.select($"rid" +: plain.zipWithIndex.map {
        case (c, i) => c.over(w).as(s"o$i") }: _*))
      withParts(parts, aqe) {
        val ours = kinds.zipWithIndex.foldLeft(df) {
          case (acc, ((kind, in), i)) =>
            GlobalWindow.groupedCumAgg(acc, Seq("g"), order, in, s"o$i", kind)
        }
        byRid(ours.select($"rid" +: kinds.indices.map(i => col(s"o$i")): _*)) ==
          want
      }
    }
    val cases = for {
      rows <- Gen.choose(0, 30).flatMap(Gen.listOfN(_, rowGen))
      da <- Gen.choose(0, 3)
      db <- Gen.choose(0, 3)
    } yield (rows, da, db)
    for (parts <- Seq(1, 3, 16); aqe <- Seq(true, false)) {
      // the empty input, then random frames
      assert(check(Nil, 0, 0, parts, aqe), s"empty input, $parts/$aqe")
      val p = Prop.forAll(cases) { case (rows, da, db) =>
        check(rows, da, db, parts, aqe) }
      val res = org.scalacheck.Test.check(
        org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(4), p)
      assert(res.passed, s"parts=$parts aqe=$aqe: $res")
    }
    // one group spanning >= 3 of 16 range partitions: carries chain
    val span = (0 until 400).map(i => (Option(1), Option(i.toLong),
      Option(0), Option((i % 7).toLong - 3),
      Option((i % 5 - 2).toLong * (1L << 57) + 1),
      Option(s"s${i % 13}")))
    withParts(16, aqe = false) {
      val ranged = GlobalWindow.cumSum(
        span.zipWithIndex.map { case ((g, a, b, v, big, s), i) =>
          (g, a, b, i.toLong, v, big, s) }
          .toDF("g", "a", "b", "rid", "v", "big", "s"),
        Seq($"a"), "v", "cs")
      val filled = ranged.rdd.mapPartitions(it => Iterator(it.size))
        .collect().count(_ > 0)
      assert(filled >= 3, s"the group filled only $filled partitions")
    }
    assert(check(span, 1, 2, 16, aqe = false))
  }
}
