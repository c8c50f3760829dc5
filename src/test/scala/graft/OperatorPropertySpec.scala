package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Property tests pitting the filtered/optimized operators against
  * brute-force Scala reference implementations on adversarial random
  * data — tiny vocabularies force heavy shingle collisions (stressing
  * the prefix/positional filters), random gaps stress as-of matching.
  */
class OperatorPropertySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(15).withWorkers(1)
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  // --- jaccardPairs vs brute force --------------------------------------

  private val docGen: Gen[List[String]] = for {
    n <- Gen.choose(2, 14)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(0, 10)
      ws <- Gen.listOfN(len, Gen.oneOf("aa", "bb", "cc", "dd")) // tiny vocab
    } yield ws.mkString(" "))
  } yield docs

  private def shinglesOf(text: String, n: Int): Set[String] = {
    val toks = text.toLowerCase.replaceAll("\\s+", " ").trim
      .split(' ').filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  test("jaccardPairs equals brute force on collision-heavy random corpora") {
    check(forAll(docGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          BigDecimal(r.getDouble(2)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP))).toMap
      val sets = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> shinglesOf(t, 3) }
        .filter(_._2.nonEmpty)
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = (sa intersect sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= 0.5
      } yield ((ia, ib), BigDecimal(j).setScale(9,
        BigDecimal.RoundingMode.HALF_UP))).toMap
      got == want
    })
  }

  // --- asofBackward vs naive scan ---------------------------------------

  private val asofGen = for {
    nl <- Gen.choose(1, 12)
    nr <- Gen.choose(0, 12)
    lefts <- Gen.listOfN(nl, for {
      k <- Gen.oneOf("a", "b"); t <- Gen.choose(0L, 20L)
    } yield (k, t))
    rights0 <- Gen.listOfN(nr, for {
      k <- Gen.oneOf("a", "b"); t <- Gen.choose(0L, 20L)
      v <- Gen.choose(1, 99)
    } yield (k, t, v.toDouble))
  } yield (lefts, rights0.groupBy(r => (r._1, r._2))
    .map(_._2.head).toList) // unique (key, time) on the right

  test("asofBackward (inclusive and strict) equals a naive per-row scan") {
    check(forAll(asofGen, Gen.oneOf(true, false)) { case ((ls, rs), strict) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val lDf = left.toDF("k", "lt", "rid")
      val rDf = rs.toDF("k", "rt", "v")
      val got = graft.operators.AsofJoin
        .asofBackward(lDf, rDf, Seq("k"), "lt", "rt", Seq("v"),
          strict = strict)
        .collect().map(r => r.getLong(2) ->
          (Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
      val want = left.map { case (k, t, i) =>
        val cands = rs.filter(r => r._1 == k &&
          (if (strict) r._2 < t else r._2 <= t))
        val best = if (cands.isEmpty) None
        else Some(cands.maxBy(_._2))
        i -> (best.map(_._2), best.map(_._3))
      }.toMap
      got == want
    })
  }

  test("asofForward (inclusive and strict) equals a naive per-row scan") {
    check(forAll(asofGen, Gen.oneOf(true, false)) { case ((ls, rs), strict) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val lDf = left.toDF("k", "lt", "rid")
      val rDf = rs.toDF("k", "rt", "v")
      val got = graft.operators.AsofJoin
        .asofForward(lDf, rDf, Seq("k"), "lt", "rt", Seq("v"),
          strict = strict)
        .collect().map(r => r.getLong(2) ->
          (Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
      val want = left.map { case (k, t, i) =>
        val cands = rs.filter(r => r._1 == k &&
          (if (strict) r._2 > t else r._2 >= t))
        val best = if (cands.isEmpty) None
        else Some(cands.minBy(_._2))
        i -> (best.map(_._2), best.map(_._3))
      }.toMap
      got == want
    })
  }

  // --- editDistancePairs vs brute force ---------------------------------

  private val edGen: Gen[List[String]] = for {
    n <- Gen.choose(2, 10)
    // short strings over a 2-letter alphabet: heavy prefix collisions AND
    // heavy within-threshold distances
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(0, 8)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b'))
    } yield cs.mkString)
  } yield docs

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("asofNearest (fused single-shuffle) equals a naive two-direction " +
      "scan, backward preferred on ties") {
    check(forAll(asofGen, Gen.oneOf(true, false)) { case ((ls, rs), strict) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val lDf = left.toDF("k", "lt", "rid")
      val rDf = rs.toDF("k", "rt", "v")
      val got = graft.operators.AsofJoin
        .asofNearest(lDf, rDf, Seq("k"), "lt", "rt", Seq("v"),
          strict = strict)
        .collect().map(r => r.getLong(2) ->
          (Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
      val want = left.map { case (k, t, i) =>
        val bwd = rs.filter(r => r._1 == k &&
          (if (strict) r._2 < t else r._2 <= t)) match {
          case Nil => None; case cs => Some(cs.maxBy(_._2))
        }
        val fwd = rs.filter(r => r._1 == k &&
          (if (strict) r._2 > t else r._2 >= t)) match {
          case Nil => None; case cs => Some(cs.minBy(_._2))
        }
        val best = (bwd, fwd) match {
          case (Some(b), Some(f)) =>
            if (t - b._2 <= f._2 - t) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
        i -> (best.map(_._2), best.map(_._3))
      }.toMap
      got == want
    })
  }

  test("rolling skew/kurtosis integer algebra equals direct central " +
      "moments per frame") {
    // the window_rolling_skew contract: A2/A3/A4 assembled from power
    // sums equal n^2 m2 / n^3 m3 / n^4 m4 exactly, and the
    // standardized forms g1 = A3/sqrt(A2^3), g2 = A4/A2^2 - 3 match
    // the textbook population moments computed directly in double
    val gen = for {
      n <- Gen.choose(3, 20)
      xs <- Gen.listOfN(n, Gen.choose(1L, 50L))
    } yield xs
    check(forAll(gen) { xs =>
      val n = xs.length.toLong
      val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
      val s3 = xs.map(x => x * x * x).sum
      val s4 = xs.map(x => x * x * x * x).sum
      val a2 = n * s2 - s1 * s1
      val a3 = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
      val a4 = n * n * n * s4 - 4 * n * n * s1 * s3 +
        6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
      val mu = xs.sum.toDouble / n
      val m2 = xs.map(x => math.pow(x - mu, 2)).sum / n
      val m3 = xs.map(x => math.pow(x - mu, 3)).sum / n
      val m4 = xs.map(x => math.pow(x - mu, 4)).sum / n
      if (a2 == 0) m2 < 1e-9 // constant frame: no moments defined
      else {
        val g1 = a3.toDouble / math.sqrt((a2 * a2 * a2).toDouble)
        val g2 = a4.toDouble / (a2 * a2).toDouble - 3.0
        math.abs(g1 - m3 / math.pow(m2, 1.5)) < 1e-9 &&
          math.abs(g2 - (m4 / (m2 * m2) - 3.0)) < 1e-9
      }
    })
  }

  test("groupedCumSum equals a sequential per-group scan (nulls, dup keys)") {
    // adversarial shapes for the range-partitioned scan: duplicate order
    // keys (bounds collapse), null values (count gating), few rows over
    // many partitions (empty ranges), 1-3 hot groups
    val rowGen: Gen[List[(Long, Long, Option[Double])]] = for {
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, for {
        flag <- Gen.choose(0L, 2L)
        key <- Gen.choose(0L, 8L) // heavy duplication
        v <- Gen.option(Gen.choose(-5, 5).map(_.toDouble))
      } yield (flag, key, v))
    } yield rows
    check(forAll(rowGen, Gen.choose(1, 9)) { (rows, parts) =>
      // unique tiebreaker id, as the operator contract requires
      val df = rows.zipWithIndex
        .map { case ((f, k, v), i) => (f, k, i.toLong, v) }
        .toDF("flag", "k", "rid", "v")
      val got = SparkTestSession.withConf(
          "spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        graft.operators.GlobalWindow.groupedCumSum(df, Seq("flag"),
            Seq($"k", $"rid"), "v", "cs")
          .select($"rid", $"cs").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
          .toMap
      }
      val want = rows.zipWithIndex.map { case ((f, k, v), i) => (f, k, i.toLong, v) }
        .groupBy(_._1).flatMap { case (_, grp) =>
          var acc = 0.0; var seen = false
          grp.sortBy(t => (t._2, t._3)).map { case (_, _, rid, v) =>
            v.foreach { x => acc += x; seen = true }
            rid -> (if (seen) Some(acc) else None)
          }
        }
      got == want
    })
  }

  test("editDistancePairs equals brute force over same-prefix pairs") {
    check(forAll(edGen, Gen.choose(1, 4), Gen.choose(1, 3)) {
      (texts, prefixLen, maxDist) =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = graft.operators.Dedup
          .editDistancePairs(df, "doc_id", "text", prefixLen, maxDist)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        val want = (for {
          (a, i) <- texts.zipWithIndex; (b, j) <- texts.zipWithIndex
          if i < j && a.take(prefixLen) == b.take(prefixLen)
          d = lev(a, b) if d <= maxDist
        } yield (i.toLong, j.toLong, d.toLong)).toSet
        got == want
    })
  }

  // --- CUSUM running-min identity vs the textbook recursion --------------

  test("CUSUM window identity equals the max(0, s+d) recursion") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // s_i = max(0, s_{i−1} + d_i)  ==  r_i − least(0, min_{j≤i} r_j)
    // — the decomposition ts_changepoint_cusum ships. Random signed
    // deltas, multiple keys, adversarial long runs of one sign.
    val gen = for {
      n <- Gen.choose(1, 60)
      ds <- Gen.listOfN(n, Gen.choose(-9L, 6L)) // negative-biased drifts
    } yield ds
    check(forAll(gen) { ds =>
      val rows = ds.zipWithIndex.map { case (d, i) => (i.toLong, d) }
      val df = rows.toDF("i", "d")
      val w = Window.orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = df.select(col("i"), sum(col("d")).over(w).as("r"))
        .select(col("i"),
          (col("r") - least(lit(0L), min(col("r")).over(
            Window.orderBy(col("i")).rowsBetween(
              Window.unboundedPreceding, Window.currentRow)))).as("s"))
        .orderBy("i").collect().map(_.getLong(1)).toList
      val want = ds.scanLeft(0L)((s, d) => math.max(0L, s + d)).tail
      got == want
    })
  }

  // --- windowed funnel vs a direct per-user fold (r13 verdict item 7) ----

  /** greedy first-qualifying fold: stage k = min event time strictly
    * after stage k−1 AND within gap — a too-late middle stage kills
    * the conversion even if a later in-window next stage exists. */
  private def funnelFold(rows: Seq[(Long, String, Long)], gap: Long)
      : Map[Long, (Long, Option[Long], Option[Long])] =
    rows.groupBy(_._1).flatMap { case (u, es) =>
      val views = es.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val tv = views.min
        val tc = es.filter(e => e._2 == "click" && e._3 > tv &&
          e._3 <= tv + gap).map(_._3).minOption
        val tp = tc.flatMap(c => es.filter(e => e._2 == "purchase" &&
          e._3 > c && e._3 <= c + gap).map(_._3).minOption)
        Some(u -> ((tv, tc, tp)))
      }
    }

  test("windowedFunnel equals the greedy per-user fold; a too-late " +
      "click blocks conversion even with a later in-window purchase") {
    val MS = 1000000L // ts on an exact-ms grid so the div is lossless
    val gapNs = 5L * MS
    def run(rows: Seq[(Long, String, Long)])
        : Map[Long, (Long, Option[Long], Option[Long], Long)] =
      graft.queries.TimeSeriesQueries.windowedFunnel(
        rows.toDF("user_id", "event_type", "ts"), gapNs)
        .collect().map { r =>
          val tc = if (r.isNullAt(2)) None
            else Some(r.getLong(1) + r.getLong(2))
          val tp = tc.flatMap(c => if (r.isNullAt(3)) None
            else Some(c + r.getLong(3)))
          r.getLong(0) -> ((r.getLong(1), tc, tp, r.getLong(4)))
        }.toMap
    // the directed case the comment promises: click at +10ms is past
    // the 5ms window, so the +12ms purchase (in-window of the click)
    // must NOT convert — step stays 1
    val directed = Seq((7L, "view", 0L * MS), (7L, "click", 10L * MS),
      (7L, "purchase", 12L * MS))
    val d = run(directed)(7L)
    assert(d == ((0L, None, None, 1L)),
      s"too-late click must block the funnel, got $d")

    val evGen = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 3L)
        et <- Gen.oneOf("view", "click", "purchase")
        t <- Gen.choose(0L, 30L)
      } yield (u, et, t * MS))
    } yield rows
    check(forAll(evGen) { rows =>
      val got = run(rows)
      // fold works in ns; compare on the ms grid (lossless — every ts
      // is an exact ms multiple by construction)
      val want = funnelFold(rows, gapNs).map { case (u, (tv, tc, tp)) =>
        u -> ((tv / MS, tc.map(_ / MS), tp.map(_ / MS),
          if (tp.isDefined) 3L else if (tc.isDefined) 2L else 1L))
      }
      got == want
    })
  }
}
