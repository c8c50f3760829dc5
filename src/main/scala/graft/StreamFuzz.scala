package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{CusumAgg, KeyedEvent, TrailingAgg, RunningAgg}

/** Streaming property fuzz (round-11, r10 verdict item 3): randomized
  * ARRIVAL PERMUTATIONS and WATERMARK SCHEDULES against the batch
  * window semantics, replayed in-JVM through every stateful window
  * operator the gate keys exercise —
  * `window_stream_{rows,trailing,running}` (in-order contract) and
  * their `_ooo`/lookahead watermark-delayed siblings.
  *
  * Each seeded sample builds a small random event table (1-4 keys,
  * 30-100 events, deliberate timestamp ties via grid snapping, values
  * on the cent grid so [[StreamingOps.scaledE4]] is exact), picks an
  * operator arm with random parameters (frame span, lookahead, nRows),
  * then:
  *
  *   - DELAYED arms: each row gets an independent uniform jitter in
  *     [-J, +J] (J random per sample); arrival order is the jittered
  *     order, lateness = 2J + 1s (the bound that makes the engine drop
  *     nothing), and the arrival sequence is cut into 2-6 micro-batches
  *     at RANDOM positions — every cut is a watermark advancement, so
  *     the (permutation × cut points) pair IS a random watermark
  *     schedule. Two all-keys sentinel batches flush the tail exactly
  *     like the staged fixtures (stagedTrailingOooDir): S1 advances the
  *     watermark, S2 invokes every key under it; the sentinels' own
  *     release points stay above the final watermark forever, so they
  *     never emit and need no sink filtering.
  *   - IN-ORDER arms: arrival is (ts, value) order with random cuts at
  *     DISTINCT-ts boundaries (the operators' documented contract: a
  *     range/running tie group must not straddle a micro-batch — the
  *     staged fixtures split by ts for the same reason; rows-frames
  *     share the cut points for uniformity).
  *
  * The oracle is the batch frame DEFINITION computed directly in Scala
  * over the same events — `[t-before, t+after]` / `[-inf, t+after]`
  * time frames with range-peer ties, `rowsBetween(-(n-1), 0)` in the
  * total (ts, scaledValue) order — independent of both the streaming
  * machinery AND Spark's WindowExec. Comparison is the sorted multiset
  * of (key, ts, n, sumE4), exact integer equality (rows-frame tie
  * order is ambiguous but the output multiset is invariant — the
  * trailingRowsW scaladoc argument, which this fuzz re-proves under
  * random permutations).
  *
  * Run: `sbt "runMain graft.StreamFuzz [nSamples] [seed]"`; prints one
  * JSON summary line (FUZZ.json's streaming section quotes it) and
  * exits 1 on any mismatch. */
object StreamFuzz {

  private final case class Plan(name: String,
      events: IndexedSeq[KeyedEvent],          // ts order (the oracle view)
      batches: Seq[Seq[KeyedEvent]],           // the arrival schedule
      run: (SparkSession, Seq[Seq[KeyedEvent]]) => Seq[(Long, Long, Long, Long)],
      oracle: IndexedSeq[KeyedEvent] => Seq[(Long, Long, Long, Long)])

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200)
    val seed = args.lift(1).map(_.toLong).getOrElse(42L)
    val spark = LocalSession()
    // the stream-scoped state-store sizing the gate keys use; tiny
    // per-sample data makes 2 the latency-optimal setting here
    spark.conf.set("spark.sql.shuffle.partitions", "2")

    var fails = List.empty[String]
    val armCounts = scala.collection.mutable.Map.empty[String, Int]
    (0 until n).foreach { i =>
      check(spark, i, seed) match {
        case Left((arm, msg)) =>
          fails ::= s"$arm#$i"
          armCounts(arm) = armCounts.getOrElse(arm, 0) + 1
          System.err.println(s"[streamfuzz] $arm#$i MISMATCH: $msg")
        case Right(arm) =>
          armCounts(arm) = armCounts.getOrElse(arm, 0) + 1
          if ((i + 1) % 25 == 0)
            System.err.println(s"[streamfuzz] ${i + 1}/$n green")
      }
    }
    val armsJson = armCounts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_fuzz","samples":$n,"seed":$seed,""" +
      s""""failed":${fails.size},"arms":$armsJson}""")
    spark.stop()
    if (fails.nonEmpty) {
      System.err.println(s"[streamfuzz] FAILED: ${fails.reverse.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Run ONE seeded sample end-to-end: Left((arm, diff)) on mismatch,
    * Right(arm) when the streaming replay equals the batch oracle.
    * StreamFuzzSpec runs a deterministic prefix in-suite; the main is
    * the 200-sample evidence generator. */
  def check(spark: SparkSession, i: Int,
      seed: Long): Either[(String, String), String] = {
    val p = sample(i, seed)
    val arm = p.name.takeWhile(_ != '#')
    val got = p.run(spark, p.batches).sorted
    val want = p.oracle(p.events).sorted
    if (got == want) Right(arm)
    else Left(arm -> (s"${want.size} oracle vs ${got.size} emitted; " +
      s"missing=${want.diff(got).take(3)} extra=${got.diff(want).take(3)}"))
  }

  /** Random micro-batch cut points over an arrival sequence: 2-6 parts,
    * cuts restricted to `legal` positions (1..len-1). */
  private def cut[A](rnd: java.util.Random, arrived: Seq[A],
      legal: Seq[Int]): Seq[Seq[A]] = {
    if (legal.isEmpty) return Seq(arrived)
    val k = 1 + rnd.nextInt(math.min(5, legal.size))
    val cuts = rnd.shuffle2(legal).take(k).sorted
    (Seq(0) ++ cuts ++ Seq(arrived.size)).sliding(2).map {
      case Seq(a, b) => arrived.slice(a, b)
    }.toSeq.filter(_.nonEmpty)
  }

  private implicit final class RndOps(private val rnd: java.util.Random)
      extends AnyVal {
    /** Fisher-Yates over an immutable Seq (scala.util.Random wraps a
      * different generator; keep everything on the one seeded
      * java.util.Random so samples are reproducible). */
    def shuffle2[A](xs: Seq[A]): Seq[A] = {
      val a = xs.toBuffer
      var i = a.length
      while (i > 1) {
        val j = rnd.nextInt(i); i -= 1
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
  }

  private val qId = new java.util.concurrent.atomic.AtomicLong()

  /** Drive a stateful op over the batch schedule via MemoryStream: one
    * addData + processAllAvailable per micro-batch = one watermark
    * advancement per cut, exactly the file-replay mechanics of the
    * gate's staged fixtures without the disk. */
  private def drive[T <: Product : org.apache.spark.sql.Encoder](
      spark: SparkSession, batches: Seq[Seq[KeyedEvent]],
      op: org.apache.spark.sql.Dataset[KeyedEvent] =>
        org.apache.spark.sql.Dataset[T],
      row: T => (Long, Long, Long, Long),
      dropTs: Long => Boolean): Seq[(Long, Long, Long, Long)] = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[KeyedEvent]
    val qn = s"graft_streamfuzz_${qId.incrementAndGet()}"
    val q: StreamingQuery = op(ms.toDS()).toDF()
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .start()
    try {
      batches.foreach { b =>
        if (b.nonEmpty) { ms.addData(b); q.processAllAvailable() }
      }
      spark.table(qn).as[T].collect().toSeq
        .map(row).filterNot(r => dropTs(r._2))
    } finally {
      q.stop(); spark.catalog.dropTempView(qn)
    }
  }

  /** One seeded sample: events + arrival schedule + run/oracle pair. */
  private def sample(i: Int, seed: Long): Plan = {
    val rnd = new java.util.Random(seed * 104729L + i)
    val nKeys = 1 + rnd.nextInt(4)
    val nEvents = 30 + rnd.nextInt(71)
    val t0 = 1700000000000L
    val spanMs = (1L + rnd.nextInt(6)) * 3600L * 1000L
    // ~1/3 of samples snap timestamps to a coarse grid — deliberate tie
    // groups (range-frame peers, rows-frame ambiguity) at every density
    val grid = if (rnd.nextInt(3) == 0) (60L + rnd.nextInt(600)) * 1000L else 1L
    val events = IndexedSeq.fill(nEvents) {
      val ts = t0 + (math.abs(rnd.nextLong()) % spanMs) / grid * grid
      val v = (rnd.nextInt(20001) - 10000) / 100.0
      KeyedEvent(rnd.nextInt(nKeys).toLong, ts, v)
    }.sortBy(e => (e.tsMillis, e.value))
    val maxTs = events.map(_.tsMillis).max

    def s4(e: KeyedEvent): Long = StreamingOps.scaledE4(e.value)

    // time-frame oracle: [t-before, t+after] (before=Long.MaxValue =>
    // running / unbounded-preceding), range-peer ties inclusive
    def timeOracle(before: Long, after: Long)(
        ev: IndexedSeq[KeyedEvent]): Seq[(Long, Long, Long, Long)] =
      ev.map { e =>
        val lo = if (before == Long.MaxValue) Long.MinValue
          else e.tsMillis - before
        val hi = e.tsMillis + after
        val fr = ev.filter(x => x.key == e.key &&
          x.tsMillis >= lo && x.tsMillis <= hi)
        (e.key, e.tsMillis, fr.size.toLong, fr.map(s4).sum)
      }

    // rows-frame oracle: self + the nRows-1 entries before it in the
    // per-key total (ts, scaledValue) order
    def rowsOracle(nRows: Int)(
        ev: IndexedSeq[KeyedEvent]): Seq[(Long, Long, Long, Long)] =
      ev.groupBy(_.key).toSeq.flatMap { case (k, es) =>
        val ord = es.map(e => (e.tsMillis, s4(e))).sorted
        ord.zipWithIndex.map { case ((ts, _), j) =>
          val fr = ord.slice(math.max(0, j - (nRows - 1)), j + 1)
          (k, ts, fr.size.toLong, fr.map(_._2).sum)
        }
      }

    // in-order arrival: (ts, value) order, cuts only between DISTINCT
    // timestamps (the operators' sorted-replay contract)
    def inOrderBatches(): Seq[Seq[KeyedEvent]] = {
      val legal = (1 until events.size)
        .filter(p => events(p - 1).tsMillis != events(p).tsMillis)
      cut(rnd, events, legal)
    }

    // jittered arrival + random cuts + the two-sentinel flush tail
    def oooBatches(after: Long): (Seq[Seq[KeyedEvent]], Long, Long) = {
      val jitter = (1L + rnd.nextInt(3600)) * 1000L
      val lateness = 2 * jitter + 1000L
      val arrived = events.map { e =>
        (e.tsMillis + (math.abs(rnd.nextLong()) % (2 * jitter + 1)) - jitter,
          e)
      }.sortBy(a => (a._1, a._2.tsMillis, a._2.value)).map(_._2)
      val data = cut(rnd, arrived, 1 until arrived.size)
      val keys = events.map(_.key).distinct
      val s1 = maxTs + lateness + after + 2000L
      val sent = (ts: Long) => keys.map(k => KeyedEvent(k, ts, 0.0))
      (data ++ Seq(sent(s1), sent(s1 + 1000L)), lateness, s1)
    }

    // CUSUM oracle: the TEXTBOOK recursion s = max(0, s + Σgroup(v−a))
    // over per-key event-time tie-groups — an independent derivation
    // from the running-min window identity the batch/stream operators
    // ship, so agreement cross-checks the identity itself
    def cusumOracle(aE4: Long, hE4: Long)(
        ev: IndexedSeq[KeyedEvent]): Seq[(Long, Long, Long, Long)] =
      ev.groupBy(_.key).toSeq.flatMap { case (k, es) =>
        var s = 0L
        es.groupBy(_.tsMillis).toSeq.sortBy(_._1).flatMap { case (ts, g) =>
          s = math.max(0L, s + g.map(e => s4(e) - aE4).sum)
          g.map(_ => (k, ts, s, if (s > hE4) 1L else 0L))
        }
      }

    // as-of oracle: per left row, the LATEST quote ts at or before it,
    // per-ts MAX among its ties — the operator's quote-book rule
    // (None → Long.MinValue sentinel for the 4-tuple gate)
    def asofOracle(tag: IndexedSeq[Boolean])(
        ev: IndexedSeq[KeyedEvent]): Seq[(Long, Long, Long, Long)] = {
      val z = ev.zip(tag)
      z.filterNot(_._2).map { case (e, _) =>
        val qs = z.collect { case (q, true)
          if q.key == e.key && q.tsMillis <= e.tsMillis => q }
        val best = qs.map(_.tsMillis).maxOption.map { lt =>
          qs.filter(_.tsMillis == lt).map(s4).max
        }
        (e.key, e.tsMillis, s4(e), best.getOrElse(Long.MinValue))
      }
    }

    // top-k oracle: per (key, tumbling window) value-count bag, ranked
    // (cnt desc, value asc), top k — rank itself is OMITTED from the
    // 4-tuple (it is derivable: the rank order is total, so multiset
    // equality of the top-k (key, win, value, cnt) rows implies rank
    // equality)
    def topkOracle(w: Long, k: Int)(
        ev: IndexedSeq[KeyedEvent]): Seq[(Long, Long, Long, Long)] =
      ev.groupBy(e => (e.key, Math.floorDiv(e.tsMillis, w) * w)).toSeq
        .flatMap { case ((key, ws), es) =>
          es.groupBy(s4).toSeq.map { case (v, g) => (v, g.size.toLong) }
            .sortBy { case (v, c) => (-c, v) }.take(k)
            .map { case (v, c) => (key, ws, v, c) }
        }

    // quantile oracle: per (key, tumbling window) sorted bag, exact
    // integer ceil-rank p50/p95; the two quantiles ride ONE 4-tuple
    // slot via an injective base-B pack (values are e4-scaled in
    // [−10^6, 10^6], B = 4·10^6 + 1 > 2·max|p95|, so pack equality ⇔
    // pair equality) — n keeps its own slot
    val QPackB = 4000001L
    def quantOracle(w: Long)(
        ev: IndexedSeq[KeyedEvent]): Seq[(Long, Long, Long, Long)] =
      ev.groupBy(e => (e.key, Math.floorDiv(e.tsMillis, w) * w)).toSeq
        .map { case ((key, ws), es) =>
          val sorted = es.map(s4).sorted
          val n = sorted.size.toLong
          def at(rank: Long): Long = sorted((rank - 1).toInt)
          (key, ws, n, at((n + 1) / 2) * QPackB + at((95 * n + 99) / 100))
        }

    // session oracle: the gap sweep over the per-key ts-sorted events
    // (merge while next − end ≤ gap — sessionizeDelayed's inclusive
    // rule), exact scaled-int sums; (n, sumE4) packed injectively
    val SPackB = 400000001L
    def sessOracle(gap: Long)(
        ev: IndexedSeq[KeyedEvent]): Seq[(Long, Long, Long, Long)] =
      ev.groupBy(_.key).toSeq.flatMap { case (k, es) =>
        val sorted = es.sortBy(_.tsMillis)
        val out = Seq.newBuilder[(Long, Long, Long, Long)]
        var start = sorted.head.tsMillis; var end = start
        var n = 1L; var sum = s4(sorted.head)
        sorted.tail.foreach { e =>
          if (e.tsMillis - end <= gap) {
            end = e.tsMillis; n += 1; sum += s4(e)
          } else {
            out += ((k, start, end, n * SPackB + sum))
            start = e.tsMillis; end = start; n = 1L; sum = s4(e)
          }
        }
        out += ((k, start, end, n * SPackB + sum))
        out.result()
      }

    // FIR oracle: the weighted dot over the trailing |ws|-row frame in
    // the total (ts, s4) order — weights(0) on the row itself, missing
    // predecessors contribute 0; the streaming op must reproduce it
    // under ANY bounded-disorder arrival
    def firOracle(ws: Seq[Long])(
        ev: IndexedSeq[KeyedEvent]): Seq[(Long, Long, Long, Long)] =
      ev.groupBy(_.key).toSeq.flatMap { case (k, es) =>
        val sorted = es.map(e => (e.tsMillis, s4(e))).sorted
        sorted.zipWithIndex.map { case ((ts, _), i) =>
          var acc = 0L
          ws.indices.foreach { j =>
            if (i - j >= 0) acc += sorted(i - j)._2 * ws(j) }
          (k, ts, acc, 0L)
        }
      }

    val armNames = Seq("trailing_inorder", "running_inorder",
      "rows_inorder", "trailing_ooo", "running_ooo", "rows_ooo",
      "cusum_ooo", "topk_ooo", "asof_ooo", "quantile_ooo", "ewma_ooo",
      "sessdel_ooo")
    val arm = rnd.nextInt(12)
    val name = s"${armNames(arm)}#$i"
    val sparkEnc = org.apache.spark.sql.Encoders
    arm match {
      case 0 =>
        val before = (1L + rnd.nextInt(120)) * 60L * 1000L
        Plan(name, events, inOrderBatches(),
          (s, b) => drive[TrailingAgg](s, b,
            ds => StreamingOps.trailingW(ds, before),
            t => (t.key, t.tsMillis, t.winN, t.winSumE4), _ => false)(
            sparkEnc.product[TrailingAgg]),
          timeOracle(before, 0L))
      case 1 =>
        Plan(name, events, inOrderBatches(),
          (s, b) => drive[RunningAgg](s, b,
            ds => StreamingOps.runningW(ds),
            r => (r.key, r.tsMillis, r.cumN, r.cumSumE4), _ => false)(
            sparkEnc.product[RunningAgg]),
          timeOracle(Long.MaxValue, 0L))
      case 2 =>
        val nRows = 1 + rnd.nextInt(12)
        Plan(name, events, inOrderBatches(),
          (s, b) => drive[TrailingAgg](s, b,
            ds => StreamingOps.trailingRowsW(ds, nRows),
            t => (t.key, t.tsMillis, t.winN, t.winSumE4), _ => false)(
            sparkEnc.product[TrailingAgg]),
          rowsOracle(nRows))
      case 3 =>
        val before = (1L + rnd.nextInt(120)) * 60L * 1000L
        val after = if (rnd.nextBoolean()) (1L + rnd.nextInt(30)) * 60L * 1000L
          else 0L
        val (batches, lateness, s1) = oooBatches(after)
        Plan(name, events, batches,
          (s, b) => drive[TrailingAgg](s, b,
            ds => StreamingOps.trailingWDelayed(ds, before, lateness, after),
            t => (t.key, t.tsMillis, t.winN, t.winSumE4), _ >= s1)(
            sparkEnc.product[TrailingAgg]),
          timeOracle(before, after))
      case 4 =>
        val after = if (rnd.nextBoolean()) (1L + rnd.nextInt(30)) * 60L * 1000L
          else 0L
        val (batches, lateness, s1) = oooBatches(after)
        Plan(name, events, batches,
          (s, b) => drive[RunningAgg](s, b,
            ds => StreamingOps.runningWDelayed(ds, lateness, after),
            r => (r.key, r.tsMillis, r.cumN, r.cumSumE4), _ >= s1)(
            sparkEnc.product[RunningAgg]),
          timeOracle(Long.MaxValue, after))
      case 5 =>
        val nRows = 1 + rnd.nextInt(12)
        val (batches, lateness, s1) = oooBatches(0L)
        Plan(name, events, batches,
          (s, b) => drive[TrailingAgg](s, b,
            ds => StreamingOps.trailingRowsWDelayed(ds, nRows, lateness),
            t => (t.key, t.tsMillis, t.winN, t.winSumE4), _ >= s1)(
            sparkEnc.product[TrailingAgg]),
          rowsOracle(nRows))
      case 6 =>
        // order-DEPENDENT recursion under random arrival order: the
        // sharpest test in the family — any row released before its
        // prefix settles, or folded out of event-time order, skews
        // every subsequent CUSUM value
        val aE4 = (rnd.nextInt(400001) - 200000).toLong // ±20.0
        val hE4 = (100000 + rnd.nextInt(1900001)).toLong // 10.0..200.0
        val (batches, lateness, s1) = oooBatches(0L)
        Plan(name, events, batches,
          (s, b) => drive[CusumAgg](s, b,
            ds => StreamingOps.cusumWDelayed(ds, aE4, hE4, lateness),
            c => (c.key, c.tsMillis, c.cusumE4,
              if (c.isDrift) 1L else 0L), _ >= s1)(
            sparkEnc.product[CusumAgg]),
          cusumOracle(aE4, hE4))
      case 7 =>
        // windowed TOP-K under random arrival: counting is
        // order-independent, so this arm exercises the watermark
        // machinery (window close timing, cross-batch bag merge,
        // sentinel non-emission) rather than fold order; sentinel
        // windows are disjoint from real ones (s1 − maxTs > W) and
        // never close (their release point stays above the final
        // watermark), so no sink filtering is needed — the dropTs
        // guard is belt-and-braces
        val w = (5L + rnd.nextInt(120)) * 60L * 1000L
        val k = 1 + rnd.nextInt(4)
        val (batches, lateness, s1) = oooBatches(w)
        val sentWin = Math.floorDiv(s1, w) * w
        Plan(name, events, batches,
          (s, b) => drive[StreamingOps.TopkAgg](s, b,
            ds => StreamingOps.topkWDelayed(ds, w, k, lateness),
            t => (t.key, t.winStartMillis, t.valueE4, t.cnt),
            _ >= sentWin)(
            sparkEnc.product[StreamingOps.TopkAgg]),
          topkOracle(w, k))
      case 9 =>
        // windowed P50/P95 under random arrival: same order-independent
        // bag machinery as topk (window close timing, cross-batch
        // merge), but the emission is a rank WALK over the sorted bag —
        // this arm pins the integer ceil-rank indices (p50=(n+1)/2,
        // p95=(95n+99)/100) against a direct sorted-seq lookup
        val w = (5L + rnd.nextInt(120)) * 60L * 1000L
        val (batches, lateness, s1) = oooBatches(w)
        val sentWin = Math.floorDiv(s1, w) * w
        Plan(name, events, batches,
          (s, b) => drive[StreamingOps.QuantileAgg](s, b,
            ds => StreamingOps.quantileWDelayed(ds, w, lateness),
            t => (t.key, t.winStartMillis, t.n,
              t.p50E4 * QPackB + t.p95E4),
            _ >= sentWin)(
            sparkEnc.product[StreamingOps.QuantileAgg]),
          quantOracle(w))
      case 10 =>
        // streaming FIR (EWMA shape) under random arrival: the
        // order-DEPENDENT rows-frame op — each value's coefficient is
        // its DISTANCE from the newest row, so releasing a row before
        // its prefix settles (or mis-ordering a tie group) shifts
        // every weight assignment; random signed fixed-point weights
        // at random depth, including zero weights and depth 1
        val depth = 1 + rnd.nextInt(8)
        val ws = Seq.fill(depth)((rnd.nextInt(2001) - 1000).toLong)
        val (batches, lateness, s1) = oooBatches(0L)
        Plan(name, events, batches,
          (s, b) => drive[StreamingOps.FirAgg](s, b,
            ds => StreamingOps.weightedRowsWDelayed(ds, ws, lateness),
            t => (t.key, t.tsMillis, t.firQ, 0L), _ >= s1)(
            sparkEnc.product[StreamingOps.FirAgg]),
          firOracle(ws))
      case 11 =>
        // watermark-deterministic SESSIONIZATION under random arrival,
        // random gap, random lateness — AND the round-15 TIMEOUT-flush
        // contract fuzzed for real: the trailing watermark carriers are
        // SINGLE-KEY rows, so every OTHER key's final sessions can only
        // emit via the registered EventTimeTimeout (no per-key
        // re-activation). The (n, sumE4) pair rides one slot via an
        // injective base-B pack (|sumE4| ≤ n·10^6 ≤ 10^8 < B/2).
        val gap = (1L + rnd.nextInt(1800)) * 1000L
        val (b0, lateness, s1) = oooBatches(gap)
        val carrier = events.map(_.key).min
        val data = b0.dropRight(2) ++ Seq(
          Seq(KeyedEvent(carrier, s1, 0.0)),
          Seq(KeyedEvent(carrier, s1 + 1000L, 0.0)))
        Plan(name, events, data,
          (s, b) => drive[StreamingOps.SessionE4](s, b,
            ds => StreamingOps.sessionizeDelayed(ds, gap, lateness),
            t => (t.key, t.startMillis, t.endMillis,
              t.nEvents * SPackB + t.sumE4), _ >= s1)(
            sparkEnc.product[StreamingOps.SessionE4]),
          sessOracle(gap))
      case _ =>
        // stream-stream AS-OF: content-derived side tags (a pure
        // function of the event, so duplicates tag consistently on
        // both the arrival shuffle and the oracle; unlike the gate
        // key's (key, ts) hash split, two values at one (key, ts) CAN
        // land on different sides here, pinning the per-ts-max book
        // rule), random arrival, quotes landing before/after the
        // lefts they should win
        val salt = rnd.nextInt(97)
        def isQ(e: KeyedEvent): Boolean =
          ((e.key * 31 + e.tsMillis) * 31 + s4(e) + salt) % 3 == 0
        val tag = events.map(isQ)
        val (batches, lateness, s1) = oooBatches(0L)
        val tagged = batches.map(_.map(e =>
          StreamingOps.TaggedEvent(e.key, e.tsMillis, e.value, isQ(e))))
        Plan(name, events, Nil,
          (s, _) => {
            implicit val sq = s.sqlContext
            import s.implicits._
            val ms = MemoryStream[StreamingOps.TaggedEvent]
            val qn = s"graft_streamfuzz_asof_${qId.incrementAndGet()}"
            val q = StreamingOps.asofJoinWDelayed(ms.toDS(), lateness)
              .toDF().writeStream.outputMode("append")
              .format("memory").queryName(qn).start()
            try {
              tagged.foreach { b =>
                if (b.nonEmpty) { ms.addData(b); q.processAllAvailable() }
              }
              s.table(qn).as[StreamingOps.AsofJoined].collect().toSeq
                .map(a => (a.key, a.tsMillis, a.valueE4,
                  a.quoteE4.getOrElse(Long.MinValue)))
                .filterNot(_._2 >= s1)
            } finally { q.stop(); s.catalog.dropTempView(qn) }
          },
          asofOracle(tag))
    }
  }
}
