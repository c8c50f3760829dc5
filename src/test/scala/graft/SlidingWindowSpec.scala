package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, RowFrame, SpecifiedWindowFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SlidingWindow
import graft.operators.SlidingWindow.SlidingWindowExec

/** The retracting bounded-ROWS operator against a brute-force Scala
  * model of each frame, and the plan choice between it and WindowExec. */
class SlidingWindowSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  /** A random table: 8 groups (one of them NULL, two of one and three
    * rows), duplicate order keys broken by a unique id, ~15% NULL values
    * in every value column. */
  private lazy val data: Seq[(Option[Int], Int, Long, Option[Long],
      Option[Int], Option[Short], Option[Byte])] = {
    val rnd = new scala.util.Random(20261020L)
    def maybe[T](v: => T) = if (rnd.nextInt(100) < 15) None else Some(v)
    val groups: Seq[Option[Int]] =
      Seq.fill(1400)(Option(rnd.nextInt(6)).filter(_ > 0)) ++
        Seq(Some(7)) ++ Seq.fill(3)(Some(8))
    groups.zipWithIndex.map { case (g, id) =>
      (g, rnd.nextInt(40), id.toLong,
        maybe(rnd.nextLong() >> 20), maybe(rnd.nextInt(2001) - 1000),
        maybe((rnd.nextInt(601) - 300).toShort),
        maybe((rnd.nextInt(256) - 128).toByte))
    }
  }

  private lazy val df: DataFrame =
    data.toDF("g", "o", "id", "v", "vi", "vs", "vb")

  private val w = Window.partitionBy($"g").orderBy($"o", $"id")

  private sealed trait Fn
  private case object SumF extends Fn
  private case object CountF extends Fn
  private case object MinF extends Fn
  private case object MaxF extends Fn

  /** (name, aggregate, value column, frame) per output column. */
  private def columns(frames: Seq[(Int, Int)])
      : Seq[(String, Fn, String, Int, Int)] =
    frames.zipWithIndex.flatMap { case ((lo, hi), k) =>
      Seq((s"s$k", SumF, "v", lo, hi), (s"si$k", SumF, "vi", lo, hi),
        (s"c$k", CountF, "vs", lo, hi), (s"mn$k", MinF, "vs", lo, hi),
        (s"mx$k", MaxF, "vb", lo, hi), (s"mi$k", MinF, "v", lo, hi))
    }

  private def windowed(cols: Seq[(String, Fn, String, Int, Int)]): DataFrame =
    df.select(col("id") +: cols.map { case (name, fn, in, lo, hi) =>
      val f = fn match {
        case SumF => sum(col(in)); case CountF => count(col(in))
        case MinF => min(col(in)); case MaxF => max(col(in))
      }
      f.over(w.rowsBetween(lo, hi)).as(name)
    }: _*)

  /** The frame aggregates of every row, by brute force over each
    * group's rows in (o, id) order. */
  private def model(cols: Seq[(String, Fn, String, Int, Int)])
      : Map[Long, Seq[Option[Long]]] = {
    def value(r: (Option[Int], Int, Long, Option[Long], Option[Int],
        Option[Short], Option[Byte]), in: String): Option[Long] = in match {
      case "v" => r._4; case "vi" => r._5.map(_.toLong)
      case "vs" => r._6.map(_.toLong); case "vb" => r._7.map(_.toLong)
    }
    data.groupBy(_._1).values.flatMap { rows =>
      val g = rows.sortBy(r => (r._2, r._3)).toIndexedSeq
      g.indices.map { i =>
        g(i)._3 -> cols.map { case (_, fn, in, lo, hi) =>
          // in Long: i + lo and i + hi may pass the Int range
          val from = math.min(math.max(0L, i.toLong + lo), g.size.toLong)
          val to = math.min(g.size - 1L, i.toLong + hi)
          val vs = (from.toInt to to.toInt).flatMap(j => value(g(j), in))
          fn match {
            case CountF => Some(vs.size.toLong)
            case _ if vs.isEmpty => None
            case SumF => Some(vs.sum)
            case MinF => Some(vs.min)
            case MaxF => Some(vs.max)
          }
        }
      }
    }.toMap
  }

  private def collected(out: DataFrame): Map[Long, Seq[Option[Long]]] =
    out.collect().map { r =>
      r.getLong(0) -> (1 until r.size).map(k =>
        if (r.isNullAt(k)) None
        else Some(r.get(k).asInstanceOf[Number].longValue))
    }.toMap

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def slides(out: DataFrame): Boolean = {
    val ns = nodes(out.queryExecution.executedPlan)
    ns.exists(_.isInstanceOf[SlidingWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec])
  }

  private def plansWindowExec(out: DataFrame): Boolean = {
    val ns = nodes(out.queryExecution.executedPlan)
    ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[SlidingWindowExec])
  }

  test("random frames in one node equal the brute-force model at 1, 3 " +
      "and 16 partitions, AQE on and off") {
    val rnd = new scala.util.Random(7L)
    val fixed = Seq((-25, -1), (1, 25), (-25, 25), (0, 0), (-3, 2),
      (-25, -25), (25, 25))
    val random = Seq.fill(5) {
      val a = rnd.nextInt(51) - 25; val b = rnd.nextInt(51) - 25
      (math.min(a, b), math.max(a, b))
    }
    val cols = columns(fixed ++ random)
    val expected = model(cols)
    for (parts <- Seq(1, 3, 16); aqe <- Seq(true, false)) {
      SparkTestSession.withConf(
          "spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString) {
        val out = windowed(cols)
        assert(slides(out), out.queryExecution.executedPlan.toString)
        val got = collected(out)
        assert(got.keySet == expected.keySet)
        expected.foreach { case (id, want) =>
          assert(got(id) == want,
            s"parts=$parts aqe=$aqe id=$id: ${cols.map(_._1)}")
        }
      }
    }
  }

  private def matchesModel(frames: Seq[(Int, Int)]): Unit = {
    val cols = columns(frames)
    val out = windowed(cols)
    assert(slides(out), out.queryExecution.executedPlan.toString)
    assert(collected(out) == model(cols))
  }

  test("frames as wide as the Int offsets allow equal the model") {
    // the frame width overflows an Int here, and a ring sized from it
    // would not fit in memory; the rings follow the group size instead
    matchesModel(Seq((-Int.MaxValue, 0), (0, Int.MaxValue),
      (-1000000000, 1000000000)))
    matchesModel(Seq((Int.MaxValue - 1, Int.MaxValue)))
  }

  test("output keeps WindowExec's schema and nullability") {
    val out = windowed(columns(Seq((-2, 0))))
    val types = out.schema.fields.map(f => f.name -> f.dataType.simpleString)
      .toMap
    assert(types("s0") == "bigint" && types("si0") == "bigint" &&
      types("c0") == "bigint" && types("mn0") == "smallint" &&
      types("mx0") == "tinyint" && types("mi0") == "bigint", types)
    assert(!out.schema("c0").nullable && out.schema("s0").nullable)
  }

  private lazy val big = Seq((1, 1L, Long.MaxValue / 2 + 1),
    (1, 2L, Long.MaxValue / 2 + 1), (1, 3L, 5L), (2, 1L, 3L))
    .toDF("g", "o", "v")

  private def bigSum(extra: Column*): DataFrame = {
    val wb = Window.partitionBy($"g").orderBy($"o")
    big.select(($"o" +: (sum($"v").over(wb.rowsBetween(-1, 0)).as("s")
      +: extra)): _*).orderBy($"g", $"o")
  }

  test("an overflowing int64 frame sum raises under ANSI") {
    SparkTestSession.withConf("spark.sql.ansi.enabled" -> "true") {
      assert(slides(bigSum()))
      val e = intercept[Exception](bigSum().collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("ARITHMETIC_OVERFLOW")), e.toString)
      // and so does WindowExec on the same frames
      val ref = bigSum(lag($"v", 1).over(Window.partitionBy($"g")
        .orderBy($"o")).as("l"))
      assert(plansWindowExec(ref))
      intercept[Exception](ref.collect())
    }
  }

  test("LEGACY mode wraps exactly as WindowExec does") {
    SparkTestSession.withConf("spark.sql.ansi.enabled" -> "false") {
      val out = bigSum()
      assert(slides(out))
      val ref = bigSum(lag($"v", 1).over(Window.partitionBy($"g")
        .orderBy($"o")).as("l"))
      assert(plansWindowExec(ref))
      val got = out.collect().map(_.getLong(1)).toSeq
      assert(got == ref.collect().map(_.getLong(1)).toSeq)
      assert(got(1) == (Long.MaxValue / 2 + 1) * 2) // wrapped negative
    }
  }

  test("the matched shape plans SlidingWindowExec; every other shape " +
      "keeps WindowExec") {
    val rows = w.rowsBetween(-3, 1)
    assert(slides(df.select(sum($"vi").over(rows), count($"v").over(rows),
      min($"vb").over(w.rowsBetween(2, 5)),
      max($"v").over(w.rowsBetween(-6, -2)))))
    assert(slides(df.select(count(lit(1)).over(Window.orderBy($"id")
      .rowsBetween(-2, 0)))))
    // each shape alone, and next to a supported expression of the same
    // partition and order spec (so both land in one Window node)
    val byO = Window.partitionBy($"g").orderBy($"o")
    val unsupported: Seq[(String, Column, Column)] = Seq(
      ("double sum", sum($"v".cast("double")).over(rows), sum($"v").over(rows)),
      ("avg", avg($"v").over(rows), sum($"v").over(rows)),
      ("lag", lag($"v", 1).over(w), sum($"v").over(rows)),
      ("range frame", sum($"v").over(byO.rangeBetween(-3, 0)),
        sum($"v").over(byO.rowsBetween(-3, 0))),
      ("unbounded preceding", sum($"v").over(
        w.rowsBetween(Window.unboundedPreceding, 0)), sum($"v").over(rows)),
      ("unbounded following", max($"v").over(
        w.rowsBetween(0, Window.unboundedFollowing)), sum($"v").over(rows)),
      ("try_sum", try_sum($"v").over(rows), sum($"v").over(rows)),
      ("two-argument count", expr("count(v, vi)").over(rows),
        sum($"v").over(rows)))
    unsupported.foreach { case (what, c, partner) =>
      assert(plansWindowExec(df.select(c)), what)
      assert(plansWindowExec(df.select(partner, c)), what)
    }
  }

  test("DISTINCT and FILTER aggregates are not matched") {
    val frame = WindowSpecDefinition(Nil, Nil,
      SpecifiedWindowFrame(RowFrame, Literal(-2), Literal(0)))
    def node(distinct: Boolean, filter: Boolean) = Seq(Alias(
      WindowExpression(AggregateExpression(Count(Seq(Literal(1L))),
        Complete, distinct, if (filter) Some(Literal(true)) else None),
        frame), "c")())
    assert(SlidingWindow.supported(node(distinct = false, filter = false)))
    assert(!SlidingWindow.supported(node(distinct = true, filter = false)))
    assert(!SlidingWindow.supported(node(distinct = false, filter = true)))
  }

  test("an empty input yields no rows") {
    val empty = spark.range(100).filter($"id" > 1000)
      .select($"id", sum($"id").over(Window.orderBy($"id")
        .rowsBetween(-2, 2)).as("s"))
    assert(slides(empty))
    assert(empty.collect().isEmpty)
  }
}
