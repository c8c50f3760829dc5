package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.operators.{Frame, TidierOps}

/** Property-fuzz of the mutateW surface against DuckDB (round-9 verdict
  * stretch 9): N seeded random (table, spec) samples over
  * (by, order, frame-shape, complete) × aggregate, each replayed as an
  * on-the-fly DuckDB window query through the SAME harness the fixed-key
  * gate uses:
  *
  *   sbt "runMain graft.Fuzz /tmp/fuzz_in /tmp/fuzz_out 200 42"
  *   python3 tools/check_oracle.py /tmp/fuzz_in /tmp/fuzz_out
  *
  * Inputs are integer-valued doubles (exact in both engines: sums exact,
  * avg one identical IEEE division) with NULL values and a NULL group;
  * order keys are unique so every sample is deterministic. Shapes:
  * running (asc/desc), group-constant, rows(b,a) frames incl. negative
  * offsets and `.complete`, days(b,a) index frames incl. `.complete`,
  * and trailing months(m,0) (rendered as the interval self-join in the
  * oracle, like the fixed months keys). */
object Fuzz {
  import TidierOps._

  /** mutateW argument shape in SQL-text form — what [[graft.sql
    * .SqlMutate.render]] takes. Captured per sample so the SAME random
    * spec can be replayed through the SQL surface (round-12 verdict
    * item 3: the sqlmutate fuzz arm). */
  private final case class SqlSpec(agg: String, by: Seq[String],
    orderBy: Seq[String], frame: Option[Frame], index: Option[String],
    complete: Boolean)

  private final case class Sample(name: String, df: DataFrame,
    result: DataFrame, oracle: String, sqlSpec: Option[SqlSpec] = None)

  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/tmp/fuzz_in")
    val outDir = args.lift(1).getOrElse("/tmp/fuzz_out")
    val n = args.lift(2).map(_.toInt).getOrElse(200)
    val seed = args.lift(3).map(_.toLong).getOrElse(42L)
    val spark = LocalSession()
    new java.io.File(inDir).mkdirs()
    new java.io.File(outDir).mkdirs()

    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var fails = 0
    var sqlOk = 0
    var sqlRejected = 0
    (0 until n).foreach { i =>
      val s = sample(spark, i, seed)
      try {
        s.df.coalesce(1).write.mode("overwrite")
          .parquet(s"$inDir/${s.name}.parquet")
        s.result.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${s.name}")
        oracles(s.name) = s.oracle
      } catch { case e: Exception =>
        System.err.println(s"[fuzz] ${s.name} FAILED to build: $e")
        fails += 1
      }
      // sqlmutate arm: replay the SAME spec through SqlMutate.render →
      // spark.sql, gated against the SAME DuckDB replay (table renamed).
      // Shapes the SQL surface rejects by design (e.g. the grouped
      // months-median sweep outside the renderable family) are counted,
      // not failed.
      s.sqlSpec.foreach { sp =>
        val tn = s.name + "s"
        try {
          s.df.createOrReplaceTempView(tn)
          val sql = graft.sql.SqlMutate.render(tn,
            Seq("out" -> sp.agg), by = sp.by, orderBy = sp.orderBy,
            frame = sp.frame, index = sp.index, complete = sp.complete)
          val res = spark.sql(sql).select(col("o"), col("out"))
          s.df.coalesce(1).write.mode("overwrite")
            .parquet(s"$inDir/$tn.parquet")
          res.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$tn")
          // whole-word replace: a sample name appearing as a SUBSTRING
          // of another SQL token must not be rewritten (r13 ADVICE)
          oracles(tn) = s.oracle.replaceAll(
            "\\b" + java.util.regex.Pattern.quote(s.name) + "\\b", tn)
          sqlOk += 1
        } catch {
          case _: IllegalArgumentException |
               _: UnsupportedOperationException => sqlRejected += 1
          case e: Exception =>
            System.err.println(s"[fuzz] $tn (sqlmutate) FAILED: $e")
            fails += 1
        } finally spark.catalog.dropTempView(tn)
      }
    }
    System.err.println(
      s"[fuzz] sqlmutate arm: $sqlOk rendered, $sqlRejected rejected-by-design")
    // ---- round-16 (extended round 17): distinct-window fuzz arm ----
    // Seeded random COUNT/SUM(DISTINCT …) OVER (…) shapes — every
    // frame family RollingDistinctRewrite claims (cumulative,
    // cumulative-to-offset both signs, any bounded [lo, hi] range
    // frame incl. strictly-offset/following/straddling, bounded rows
    // frames, round-17 sparse micros-domain int64 frames, and
    // TIMESTAMP order keys with DayTimeInterval bounds), all four
    // direction × null-ordering quadrants, targets
    // an attribute / an expression / a multi-argument pair — each
    // replayed against DuckDB's NATIVE distinct window aggregate (an
    // independent oracle from the spec's Scala brute force). Every
    // sample also REQUIREs the rewrite actually fired, so a silently
    // regressed eligibility guard fails the run rather than thinning
    // coverage.
    // round 17: n/2 → 3n/4 (≥150 at the standard n=200) now that the
    // generator spans EIGHT families — the six round-16 lowerings plus
    // the sparse-micros-domain and TIMESTAMP/DayTimeInterval arms
    val nd = n * 3 / 4
    (0 until nd).foreach { i =>
      try {
        val s = distinctSample(spark, i, seed)
        s.df.coalesce(1).write.mode("overwrite")
          .parquet(s"$inDir/${s.name}.parquet")
        s.result.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${s.name}")
        oracles(s.name) = s.oracle
      } catch { case e: Exception =>
        System.err.println(f"[fuzz] fzd$i%03d FAILED to build: $e")
        fails += 1
      }
    }
    System.err.println(s"[fuzz] distinct-window arm: $nd samples")
    // ---- round-17: suffix-array fuzz arm ----
    // Seeded random corpora (tiny overlapping vocab → long shared
    // prefixes, 70% of samples plant an exact duplicate doc → full-
    // suffix cross-doc ties through every doubling pass) run through
    // the COMPLETE prefix-doubling pipeline and replayed against
    // DuckDB sorting the raw suffixes — an oracle that shares no code
    // or algorithm with the operator. Complements the in-JVM
    // ScalaCheck differential (SuffixArraySpec) with the
    // driver-faithful bit-exact checker.
    val nsa = n / 4
    (0 until nsa).foreach { i =>
      try {
        val s = saSample(spark, i, seed)
        s.df.coalesce(1).write.mode("overwrite")
          .parquet(s"$inDir/${s.name}.parquet")
        s.result.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${s.name}")
        oracles(s.name) = s.oracle
      } catch { case e: Exception =>
        System.err.println(f"[fuzz] fzsa$i%03d FAILED to build: $e")
        fails += 1
      }
    }
    System.err.println(s"[fuzz] suffix-array arm: $nsa samples")
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    System.err.println(s"[fuzz] wrote ${oracles.size} samples, $fails failed")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }

  /** One seeded SUFFIX-ARRAY sample (round 17): a random tiny-vocab
    * corpus (prefix-heavy tokens, 70% with a planted exact duplicate
    * doc) through [[graft.operators.SuffixArray.suffixRanks]], oracled
    * by DuckDB's full suffix sort (`ORDER BY substr(text, pos+1)`,
    * word-start positions via inclusive generate_series). */
  private def saSample(spark: SparkSession, i: Int, seed: Long): Sample = {
    val rnd = new java.util.Random(seed * 2038074743L + i)
    val name = f"fzsa$i%03d"
    val vocabAll = Seq("a", "ab", "b", "ba", "abq", "cc", "c", "zq")
    val vocab = vocabAll.take(2 + rnd.nextInt(vocabAll.size - 1))
    val nDocs = 1 + rnd.nextInt(9)
    val base = (0 until nDocs).map { _ =>
      val len = rnd.nextInt(41)
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val texts =
      if (rnd.nextInt(10) < 7) base :+ base(rnd.nextInt(base.size))
      else base
    import spark.implicits._
    val df = texts.zipWithIndex
      .map { case (t, id) => (id.toLong, t) }.toDF("doc_id", "text")
    val result = graft.operators.SuffixArray.suffixRanks(df)
    val oracle =
      s"""WITH p AS (
            SELECT doc_id, text,
                   unnest(generate_series(0, length(text) - 1)) AS pos
            FROM $name WHERE length(text) > 0
          ), w AS (
            SELECT doc_id, text, pos FROM p
            WHERE pos = 0 OR substr(text, pos, 1) = ' '
          )
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                 row_number() OVER (ORDER BY substr(text, pos + 1),
                                    doc_id, pos) AS sa_rank
          FROM w"""
    Sample(name, df, result, oracle)
  }

  /** One seeded DISTINCT-WINDOW sample (round 16): a random
    * count/sum(DISTINCT target) over a random claimed frame shape and
    * quadrant, evaluated through spark.sql (the rewrite fires from the
    * analyzer — REQUIREd per sample) and oracled by DuckDB's native
    * distinct window over near-identical SQL (sum CAST to BIGINT —
    * DuckDB widens to HUGEINT; the pair target spells the any-null
    * skip as an explicit CASE row-value guard, since DuckDB's bare
    * row() counts null-field tuples). Integer ids keep every sum
    * exact; rows frames order by (b, o) — o unique — so positional
    * frames are deterministic; range frames depend only on (g, b). */
  private def distinctSample(spark: SparkSession, i: Int,
      seed: Long): Sample = {
    val rnd = new java.util.Random(seed * 104729L + i)
    val name = f"fzd$i%03d"
    val nRows = 40 + rnd.nextInt(120)
    val nGroups = 1 + rnd.nextInt(3)
    val HOUR = 3600L * 1000000L
    val rows = (0 until nRows).map { r =>
      val g = if (rnd.nextInt(8) == 0) null else s"g${rnd.nextInt(nGroups)}"
      val b: java.lang.Long = if (rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(25).toLong)
      val id: java.lang.Long = if (rnd.nextInt(8) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(12).toLong)
      val id2: java.lang.Long = if (rnd.nextInt(8) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(4).toLong)
      // db mirrors b as a DATE (epoch-anchored) — the round-16 date-
      // ordered range-frame arm; both engines read a plain integer
      // range bound over a DATE order key as DAYS (measured in DuckDB)
      val db: java.sql.Date = if (b == null) null
        else java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(b.longValue))
      // tus mirrors b as epoch MICROS at hour scale with sub-hour
      // jitter (round 17): the sparse-domain arm orders by the raw
      // int64 — a bucket domain the dense spine could never afford —
      // and the interval arm orders by the same micros as a TIMESTAMP
      // (timestamp_micros / make_timestamp: one int64, two engines)
      val tus: java.lang.Long = if (b == null) null
        else java.lang.Long.valueOf(
          1700000000000000L + b.longValue * HOUR +
            (rnd.nextInt(3600).toLong * 1000000L))
      (g, r.toLong, b, db, tus, id, id2)
    }
    import spark.implicits._
    val df = rows.toDF("g", "o", "b", "db", "tus", "id", "id2")

    val useBy = rnd.nextBoolean()
    val pb = if (useBy) "PARTITION BY g " else ""
    val desc = rnd.nextBoolean()
    val nullsLast = rnd.nextBoolean()
    val ordCol = if (rnd.nextInt(3) == 0) "db" else "b"
    val dirTxt = (if (desc) "DESC" else "ASC") +
      (if (nullsLast) " NULLS LAST" else " NULLS FIRST")
    def bnd(k: Long): String =
      if (k == 0) "CURRENT ROW"
      else if (k < 0) s"${-k} PRECEDING"
      else s"$k FOLLOWING"
    // (spark order, duck order, spark frame, duck frame) — identical
    // text except the interval arm, whose order expression and bound
    // spellings are engine-specific
    val (ordS, ordD, frameS, frameD) = rnd.nextInt(6) match {
      case 0 => // cumulative (the default-frame family)
        val o = s"$ordCol $dirTxt"
        val f = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        (o, o, f, f)
      case 1 => // cumulative-to-offset, either sign
        val u = { val x = rnd.nextInt(7) - 3; if (x == 0) -1 else x }
        val o = s"$ordCol $dirTxt"
        val f = s"RANGE BETWEEN UNBOUNDED PRECEDING AND ${bnd(u.toLong)}"
        (o, o, f, f)
      case 2 => // any bounded [lo, hi] range frame: trailing,
        // strictly-offset, following-side, straddling, peers
        val lo = rnd.nextInt(11) - 5
        val hi = lo + rnd.nextInt(11 - math.max(0, lo + 5))
        val o = s"$ordCol $dirTxt"
        val f = s"RANGE BETWEEN ${bnd(lo.toLong)} AND ${bnd(hi.toLong)}"
        (o, o, f, f)
      case 3 => // bounded rows frame, (b, o) order for determinism
        val lo = rnd.nextInt(13) - 6
        val hi = lo + rnd.nextInt(7)
        val o = s"$ordCol $dirTxt, o ASC"
        val f = s"ROWS BETWEEN ${bnd(lo.toLong)} AND ${bnd(hi.toLong)}"
        (o, o, f, f)
      case 4 => // SPARSE micros domain (round 17): raw int64 order key
        // at ~1.7e15 magnitude, hour-scale bounds in micros — the
        // shape the dense spine hard-errored on; any bounded family
        val lo = (rnd.nextInt(11) - 5).toLong * HOUR
        val hi = lo + rnd.nextInt(6).toLong * HOUR
        val o = s"tus $dirTxt"
        val f = s"RANGE BETWEEN ${bnd(lo)} AND ${bnd(hi)}"
        (o, o, f, f)
      case _ => // TIMESTAMP order key + DayTimeInterval bounds (round
        // 17): same micros, engine-local timestamp conversion; bound
        // spellings differ (Spark INTERVAL '3' HOUR, DuckDB INTERVAL
        // 3 HOUR); all four claimed interval families
        def bndI(k: Int, side: String, quoted: Boolean): String = {
          val lit = if (quoted) s"INTERVAL '$k' HOUR"
            else s"INTERVAL $k HOUR"
          s"$lit $side"
        }
        val k1 = 1 + rnd.nextInt(8)
        val k2 = 1 + rnd.nextInt(k1)
        val (fS, fD) = rnd.nextInt(4) match {
          case 0 => (s"RANGE BETWEEN ${bndI(k1, "PRECEDING", true)} " +
              "AND CURRENT ROW",
            s"RANGE BETWEEN ${bndI(k1, "PRECEDING", false)} " +
              "AND CURRENT ROW")
          case 1 => (s"RANGE BETWEEN ${bndI(k1, "PRECEDING", true)} " +
              s"AND ${bndI(k2, "PRECEDING", true)}",
            s"RANGE BETWEEN ${bndI(k1, "PRECEDING", false)} " +
              s"AND ${bndI(k2, "PRECEDING", false)}")
          case 2 => (s"RANGE BETWEEN ${bndI(k1, "PRECEDING", true)} " +
              s"AND ${bndI(k2, "FOLLOWING", true)}",
            s"RANGE BETWEEN ${bndI(k1, "PRECEDING", false)} " +
              s"AND ${bndI(k2, "FOLLOWING", false)}")
          case _ =>
            val side = if (rnd.nextBoolean()) "PRECEDING" else "FOLLOWING"
            (s"RANGE BETWEEN UNBOUNDED PRECEDING AND " +
              bndI(k2, side, true),
              s"RANGE BETWEEN UNBOUNDED PRECEDING AND " +
                bndI(k2, side, false))
        }
        (s"timestamp_micros(tus) $dirTxt",
          s"make_timestamp(tus) $dirTxt", fS, fD)
    }
    // target: attribute / expression / multi-argument pair; aggregate:
    // count always valid, sum only for the scalar targets (the CAST
    // wraps the WHOLE window expression — OVER binds to the aggregate)
    val overS = s"($pb ORDER BY $ordS $frameS)"
    val overD = s"($pb ORDER BY $ordD $frameD)"
    val (sparkAgg, duckAgg) = rnd.nextInt(4) match {
      case 0 =>
        (s"count(DISTINCT id) OVER $overS",
          s"count(DISTINCT id) OVER $overD")
      case 1 =>
        (s"count(DISTINCT (id % 5)) OVER $overS",
          s"count(DISTINCT (id % 5)) OVER $overD")
      case 2 => (s"count(DISTINCT id, id2) OVER $overS",
        "count(DISTINCT CASE WHEN id IS NULL OR id2 IS NULL " +
          s"THEN NULL ELSE (id, id2) END) OVER $overD")
      case _ =>
        (s"CAST(sum(DISTINCT id) OVER $overS AS BIGINT)",
          s"CAST(sum(DISTINCT id) OVER $overD AS BIGINT)")
    }
    def q(agg: String, tbl: String): String =
      s"SELECT o, $agg AS out FROM $tbl"
    df.createOrReplaceTempView(name)
    val res = spark.sql(q(sparkAgg, name))
    // the whole point: the stock-rejected shape must be CLAIMED — a
    // surviving distinct window agg means an eligibility regression
    val survivors = res.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.windowExpressions.exists(_.exists {
            case ae: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateExpression => ae.isDistinct
            case _ => false
          }) => wn
    }
    require(survivors.isEmpty,
      s"$name: distinct window survived ($sparkAgg / $frameS)")
    Sample(name, df, res.select(col("o"), col("out")), q(duckAgg, name))
  }

  /** One seeded sample: table + spec + Spark result + DuckDB oracle. */
  private def sample(spark: SparkSession, i: Int, seed: Long): Sample = {
    val rnd = new java.util.Random(seed * 7919L + i)
    val name = f"fz$i%03d"
    val nRows = 40 + rnd.nextInt(120)
    val nGroups = 2 + rnd.nextInt(3)
    val nullGroup = rnd.nextBoolean()
    val rows = (0 until nRows).map { r =>
      val g = if (nullGroup && rnd.nextInt(8) == 0) null
        else s"g${rnd.nextInt(nGroups)}"
      val d = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(rnd.nextInt(180).toLong))
      val v: java.lang.Double =
        if (rnd.nextInt(10) == 0) null
        else java.lang.Double.valueOf((rnd.nextInt(2001) - 1000).toDouble)
      (g, r.toLong, d, v)
    }
    import spark.implicits._
    val df = rows.toDF("g", "o", "d", "v")

    val aggs = Seq[(String, Column => Column, String => String)](
      ("sum", sum, v => s"sum($v)"),
      ("count", (c: Column) => count(c), v => s"count($v)"),
      ("min", min, v => s"min($v)"),
      ("max", max, v => s"max($v)"),
      ("avg", avg, v => s"avg($v)"))
    val (_, aggC, aggS) = aggs(rnd.nextInt(aggs.size))
    val useBy = rnd.nextBoolean()
    val by = if (useBy) Seq(col("g")) else Nil
    val pb = if (useBy) "PARTITION BY g " else ""
    val byTexts = if (useBy) Seq("g") else Nil
    val desc = rnd.nextBoolean()
    val ord = if (desc) "o DESC" else "o"

    def out(res: DataFrame): DataFrame = res.select(col("o"), col("out"))
    def w(frame: String): String =
      s"""SELECT o, $out0 OVER ($pb$frame) AS out FROM $name"""
    def out0 = aggS("v")

    rnd.nextInt(7) match {
      case 0 => // running aggregate over o order
        val res = df.mutateW("out" -> aggC(col("v")))(
          by = by, orderBy = Seq(if (desc) col("o").desc else col("o")))
        Sample(name, df, out(res),
          w(s"ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND " +
            "CURRENT ROW"),
          Some(SqlSpec(out0, byTexts, Seq(ord), None, None, false)))
      case 1 => // group-constant aggregate (.by only)
        val res = df.mutateW("out" -> aggC(col("v")))(by = Seq(col("g")))
        Sample(name, df, out(res), s"SELECT o, $out0 OVER " +
          s"(PARTITION BY g) AS out FROM $name",
          Some(SqlSpec(out0, Seq("g"), Nil, None, None, false)))
      case 2 => // rows(b, a) frame, possibly negative offsets + complete
        val b = rnd.nextInt(6) - 1 // -1..4
        val a = math.max(-b, rnd.nextInt(4) - 1) // frame nonempty
        val complete = rnd.nextBoolean()
        val res = df.mutateW("out" -> aggC(col("v")))(
          by = by, orderBy = Seq(if (desc) col("o").desc else col("o")),
          frame = Some(Frame.rows(b, a)), complete = complete)
        def bound(k: Long, before: Boolean): String =
          if (k == 0) "CURRENT ROW"
          else if ((k > 0) == before) s"${math.abs(k)} PRECEDING"
          else s"${math.abs(k)} FOLLOWING"
        val fr = s"ORDER BY $ord ROWS BETWEEN ${bound(b, before = true)} " +
          s"AND ${bound(a, before = false)}"
        val base = w(fr)
        val o =
          if (!complete) base
          else s"""SELECT o, CASE WHEN count(1) OVER ($pb$fr) = ${b + a + 1}
                   THEN $out0 OVER ($pb$fr) END AS out FROM $name"""
        Sample(name, df, out(res), o,
          Some(SqlSpec(out0, byTexts, Seq(ord), Some(Frame.rows(b, a)),
            None, complete)))
      case 3 => // days(b, a) index range frame + complete
        val b = rnd.nextInt(45)
        val a = rnd.nextInt(15)
        val complete = rnd.nextBoolean()
        val res = df.mutateW("out" -> aggC(col("v")))(
          by = by, frame = Some(Frame.days(b, a)), index = Some(col("d")),
          complete = complete)
        val idx = s"date_diff('day', DATE '1970-01-01', d)"
        val fr = s"ORDER BY $idx RANGE BETWEEN $b PRECEDING AND " +
          s"$a FOLLOWING"
        val o =
          if (!complete) w(fr)
          else s"""SELECT o, CASE WHEN $idx - $b >= min($idx) OVER ($pb)
                   AND $idx + $a <= max($idx) OVER ($pb)
                   THEN $out0 OVER ($pb$fr) END AS out FROM $name"""
        Sample(name, df, out(res), o,
          Some(SqlSpec(out0, byTexts, Nil, Some(Frame.days(b, a)),
            Some("d"), complete)))
      case 4 => // trailing months(m, 0) — interval self-join oracle
        val m = 1 + rnd.nextInt(3)
        val res = df.mutateW("out" -> aggC(col("v")))(
          by = by, frame = Some(Frame.months(m, 0)), index = Some(col("d")))
        val onG = if (useBy) "a.g IS NOT DISTINCT FROM b.g AND " else ""
        Sample(name, df, out(res),
          s"""SELECT a.o, ${aggS("b.v")} AS out
              FROM $name a JOIN $name b ON $onG
                b.d BETWEEN CAST(a.d - INTERVAL $m MONTH AS DATE) AND a.d
              GROUP BY a.o""",
          Some(SqlSpec(out0, byTexts, Nil, Some(Frame.months(m, 0)),
            Some("d"), false)))
      case 5 => // GENERAL months(b, a) offset frame, incl. negative after
        // — fuzzes monthsAgg's two-boundary as-of path and (for min/max)
        // the daily-partial expansion; possibly-empty windows ride the
        // LEFT JOIN oracle (count → 0, others → NULL) like the fixed
        // window_range_months_offset key. DuckDB d ± INTERVAL k MONTH
        // clamps month-ends exactly like Spark add_months.
        val b = 1 + rnd.nextInt(3)        // 1..3 months back
        val a = rnd.nextInt(3) - 1        // -1..1 months forward
        val res = df.mutateW("out" -> aggC(col("v")))(
          by = by, frame = Some(Frame.months(b, a)), index = Some(col("d")))
        val onG = if (useBy) "a.g IS NOT DISTINCT FROM b.g AND " else ""
        def mb(k: Int): String =
          if (k >= 0) s"a.d + INTERVAL $k MONTH" else s"a.d - INTERVAL ${-k} MONTH"
        Sample(name, df, out(res),
          s"""SELECT a.o, ${aggS("b.v")} AS out
              FROM $name a LEFT JOIN $name b ON $onG
                b.d BETWEEN CAST(${mb(-b)} AS DATE) AND CAST(${mb(a)} AS DATE)
              GROUP BY a.o""",
          Some(SqlSpec(out0, byTexts, Nil, Some(Frame.months(b, a)),
            Some("d"), false)))
      case _ => // trailing months MEDIAN — the round-9 grouped quantile
        // sweep path (monthsQuantileGrouped). Integer-valued doubles make
        // the even-count interpolation exact in BOTH engines' formulas
        // (f = 0.5: lo·0.5 + hi·0.5 and lo + (hi−lo)·0.5 are the same
        // exact double on integer lo/hi), so no rounding is needed.
        val m = 1 + rnd.nextInt(3)
        val res = df.mutateW("out" -> median(col("v")))(
          by = Seq(col("g")), frame = Some(Frame.months(m, 0)),
          index = Some(col("d")))
        Sample(name, df, out(res),
          s"""SELECT a.o, median(b.v) AS out
              FROM $name a JOIN $name b ON a.g IS NOT DISTINCT FROM b.g AND
                b.d BETWEEN CAST(a.d - INTERVAL $m MONTH AS DATE) AND a.d
              GROUP BY a.o""",
          Some(SqlSpec("median(v)", Seq("g"), Nil,
            Some(Frame.months(m, 0)), Some("d"), false)))
    }
  }
}
