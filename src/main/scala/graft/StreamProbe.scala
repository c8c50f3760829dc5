package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{KeyedEvent, TaggedEvent}

/** Streaming STATE/THROUGHPUT probe (round-12, r11 verdict item 1 —
  * the last scale-evidence blind spot): the 19 streaming gate keys
  * are excluded from SF1CORRECTNESS and Sf1Probe by design, so the
  * stateful operators' scale claims (the quote-book and time-buffer
  * bounds their scaladocs argue, StreamingOps.scala:201-661) had
  * correctness fuzz but no measurement. This main drives every
  * stateful op over a synthetic keyed-event stream at 1× and 10×
  * STREAM LENGTH (same keys, same per-key RATE — the axis a 100-TB
  * deployment grows along) and reports, per op and scale:
  *
  *   - drain wall time + events/s (10× events should cost ~10× time:
  *     `time_x10_over_10x_x1` ≈ 1 is linear, < 1 sub-linear per event
  *     as fixed costs amortize — any super-linear growth would mean
  *     per-batch work proportional to ACCUMULATED state, the failure
  *     mode the probe exists to catch);
  *   - max state rows + bytes from the ENGINE's own state-store
  *     metrics (`StreamingQueryProgress.stateOperators`) — the honest
  *     measurement of the scaladoc bounds. The load-bearing claim is
  *     `state_x10_over_x1` ≈ 1: state is O(keys × rate × (span +
  *     lateness)), INDEPENDENT of stream length, so a stream can run
  *     forever. A ratio near 10 would mean state grows with history
  *     (unbounded — broken at scale).
  *
  * Fixture: 100 keys × one event per 100 ms per key (1000 ev/s
  * aggregate), values on the cent grid; out-of-order arrival with
  * ±5 s uniform jitter, lateness 11 s (> 2·jitter, so the engine
  * drops nothing); 10 000-event micro-batches (constant batch SIZE
  * across scales — the 10× run has 10× the batches, matching a
  * longer real deployment at fixed trigger volume). Trailing span
  * 60 s → ~600 live entries/key + ~110 of lateness backlog;
  * rows-frame n=500; the asof arm tags ~1/3 of events as quotes by
  * a content hash; the topk arm ranks 60 s tumbling windows (k=3),
  * its state bounded by open-windows × distinct values.
  *
  * Run: `sbt "runMain graft.StreamProbe [perKeyX1] [mult]"` — writes
  * STREAMPROBE.json (quoted from README §scale-evidence). */
object StreamProbe {

  private val qId = new java.util.concurrent.atomic.AtomicInteger(0)

  final case class Metrics(events: Long, outRows: Long, drainSec: Double,
      batches: Int, maxStateRows: Long, maxStateBytes: Long) {
    def evPerSec: Double = events / drainSec
  }

  // ---- fixture (shared with graft.StreamCorrectness — the 10× hash
  // gate replays the IDENTICAL event set and arrival schedules) ----
  val K = 100
  val stepMs = 100L
  val t0 = 1700000000000L
  val jitterMs = 5000L
  val lateness: Long = 2 * jitterMs + 1000L
  val before = 60000L
  val nRows = 500
  val batchSize = 10000

  def gen(perKey: Int, seed: Long): IndexedSeq[KeyedEvent] = {
    val rnd = new java.util.Random(seed)
    (0 until K).flatMap { k =>
      (0 until perKey).map { i =>
        KeyedEvent(k.toLong, t0 + i * stepMs + rnd.nextInt(stepMs.toInt),
          (rnd.nextInt(20001) - 10000) / 100.0)
      }
    }
  }
  /** arrival = event order perturbed by ±jitter — disorder bounded
    * by the lateness the delayed ops are configured with */
  def ooo(ev: IndexedSeq[KeyedEvent], seed: Long): Vector[Seq[KeyedEvent]] = {
    val rnd = new java.util.Random(seed ^ 0x5eed)
    // jitter PRECOMPUTED per element (a random key fn inside sortBy
    // is an inconsistent comparator — TimSort throws)
    ev.map(e =>
        (e.tsMillis + rnd.nextInt(2 * jitterMs.toInt) - jitterMs) -> e)
      .sortBy(_._1).map(_._2)
      .grouped(batchSize).map(_.toSeq).toVector
  }
  /** arrival = exact (ts, value) order, cut so no ts tie group
    * straddles a micro-batch (the in-order ops' contract) */
  def inOrder(ev: IndexedSeq[KeyedEvent]): Vector[Seq[KeyedEvent]] = {
    val sorted = ev.sortBy(e => (e.tsMillis, e.key, e.value))
    val cuts = Vector.newBuilder[Seq[KeyedEvent]]
    var from = 0
    while (from < sorted.size) {
      var to = math.min(from + batchSize, sorted.size)
      while (to < sorted.size &&
          sorted(to).tsMillis == sorted(to - 1).tsMillis) to += 1
      cuts += sorted.slice(from, to)
      from = to
    }
    cuts.result()
  }

  /** The asof arm's content-derived side tag (quote ⇔ hash ≡ 0 mod 3). */
  def tagOf(e: KeyedEvent): Boolean =
    ((e.key * 31 + e.tsMillis) * 31 + StreamingOps.scaledE4(e.value)) % 3 == 0

  // ---- stream-stream join fixture (round-14; shared with the
  // StreamCorrectness 10× hash-gate arms so probe and gate measure the
  // IDENTICAL topology) ----

  /** duplicate-injection tag for the dedup arms (~1/3 of events get an
    * exact second copy, independently jittered by [[ooo]] — arrival
    * separation ≤ 2·jitter < lateness, inside the
    * dropDuplicatesWithinWatermark guarantee). */
  def dupOf(e: KeyedEvent): Boolean =
    ((e.key * 37 + e.tsMillis) * 37 + StreamingOps.scaledE4(e.value)) % 3 == 1

  /** join half-range: small enough that per-row match counts stay
    * bounded (~2/left at the fixture rate) at any stream length. */
  val joinR = 200L
  /** content-hash side split (~half each — a different modulus than
    * the asof quote tag). */
  def joinSideOf(e: KeyedEvent): Boolean =
    ((e.key * 31 + e.tsMillis) * 31 + StreamingOps.scaledE4(e.value)) % 2 == 0
  /** the streaming join under test: both sides watermarked at the
    * probe lateness (TIGHT — state evicts continuously), equi-key +
    * ±joinR event-time range on the watermark columns. Arrival
    * disorder (≤ 2·jitter) stays below the lateness, so no partner's
    * state can be evicted before the match lands — the drained
    * multiset is provably the batch join. */
  def joinDF(l: Dataset[KeyedEvent], r: Dataset[KeyedEvent],
      joinMode: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val v4 = (c: String) =>
      expr(s"cast(floor($c * 10000d + 0.5d) as bigint)")
    val lf = l.select(col("key"), col("tsMillis").as("l_ts"),
        v4("value").as("l_v4"),
        timestamp_millis(col("tsMillis")).as("l_et"))
      .withWatermark("l_et", s"$lateness milliseconds")
    val rf = r.select(col("key").as("r_key"),
        col("tsMillis").as("r_ts"), v4("value").as("r_v4"),
        timestamp_millis(col("tsMillis")).as("r_et"))
      .withWatermark("r_et", s"$lateness milliseconds")
    lf.join(rf, col("key") === col("r_key") &&
        col("r_et") >= col("l_et") -
          expr(s"INTERVAL $joinR MILLISECONDS") &&
        col("r_et") <= col("l_et") +
          expr(s"INTERVAL $joinR MILLISECONDS"), joinMode)
      .select(coalesce(col("key"), col("r_key")).as("k"),
        col("l_ts"), col("l_v4"), col("r_ts"), col("r_v4"))
  }

  def main(args: Array[String]): Unit = {
    val perKeyX1 = args.headOption.map(_.toInt).getOrElse(2000)
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = LocalSession()

    def run[I <: Product : org.apache.spark.sql.Encoder](
        batches: Seq[Seq[I]],
        op: Dataset[I] => DataFrame): Metrics = {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[I]
      val q = op(ms.toDS()).writeStream.outputMode("append")
        .format("noop").queryName(s"graft_sprobe_${qId.incrementAndGet()}")
        .start()
      val seen = scala.collection.mutable.Set.empty[Long]
      var out = 0L; var maxRows = 0L; var maxBytes = 0L
      def scan(): Unit = q.recentProgress.foreach { p =>
        if (seen.add(p.batchId)) {
          out += Option(p.sink).map(_.numOutputRows).getOrElse(0L)
          p.stateOperators.foreach { so =>
            maxRows = math.max(maxRows, so.numRowsTotal)
            maxBytes = math.max(maxBytes, so.memoryUsedBytes)
          }
        }
      }
      val start = System.nanoTime()
      try {
        batches.foreach { b =>
          ms.addData(b)
          q.processAllAvailable()
          scan()
        }
        // progress events post from the stream thread after the commit
        // processAllAvailable waits on — poll (bounded, ≤5 s) until the
        // engine's own lastProgress batch is in the scanned set AND the
        // batch id has been stable across 3 consecutive polls (a no-data
        // watermark batch can still trail), instead of hoping one fixed
        // sleep is long enough (round-12 ADVICE)
        var stable = 0; var lastSeen = -1L; var tries = 0
        while (tries < 50 && stable < 3) {
          scan()
          val b = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          if (b >= 0 && b == lastSeen && seen.contains(b)) stable += 1
          else { stable = 0; lastSeen = b }
          Thread.sleep(100); tries += 1
        }
        scan()
      } finally q.stop()
      Metrics(batches.iterator.map(_.size.toLong).sum, out,
        (System.nanoTime() - start) / 1e9, batches.size, maxRows, maxBytes)
    }

    def tag(ev: Seq[KeyedEvent]): Seq[TaggedEvent] =
      ev.map(e => TaggedEvent(e.key, e.tsMillis, e.value, tagOf(e)))

    /** the two-source twin of run(): one MemoryStream per join side,
      * batches split by [[joinSideOf]]; state metrics come from the
      * SAME engine progress scan (a stream-stream join keeps four
      * state stores per partition — the heaviest stateful topology in
      * the inventory, so its state_x10_over_x1 ≈ 1 is the
      * load-bearing row). */
    def runJoin(batches: Seq[Seq[KeyedEvent]], mode: String): Metrics = {
      import spark.implicits._
      implicit val sq = spark.sqlContext
      val msl = MemoryStream[KeyedEvent]
      val msr = MemoryStream[KeyedEvent]
      val q = joinDF(msl.toDS(), msr.toDS(), mode)
        .writeStream.outputMode("append")
        .format("noop").queryName(s"graft_sprobe_${qId.incrementAndGet()}")
        .start()
      val seen = scala.collection.mutable.Set.empty[Long]
      var out = 0L; var maxRows = 0L; var maxBytes = 0L
      def scan(): Unit = q.recentProgress.foreach { p =>
        if (seen.add(p.batchId)) {
          out += Option(p.sink).map(_.numOutputRows).getOrElse(0L)
          p.stateOperators.foreach { so =>
            maxRows = math.max(maxRows, so.numRowsTotal)
            maxBytes = math.max(maxBytes, so.memoryUsedBytes)
          }
        }
      }
      val start = System.nanoTime()
      try {
        batches.foreach { b =>
          val (ls, rs) = b.partition(joinSideOf)
          if (ls.nonEmpty) msl.addData(ls)
          if (rs.nonEmpty) msr.addData(rs)
          q.processAllAvailable()
          scan()
        }
        var stable = 0; var lastSeen = -1L; var tries = 0
        while (tries < 50 && stable < 3) {
          scan()
          val b = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          if (b >= 0 && b == lastSeen && seen.contains(b)) stable += 1
          else { stable = 0; lastSeen = b }
          Thread.sleep(100); tries += 1
        }
        scan()
      } finally q.stop()
      Metrics(batches.iterator.map(_.size.toLong).sum, out,
        (System.nanoTime() - start) / 1e9, batches.size, maxRows, maxBytes)
    }

    import spark.implicits._
    val arms: Seq[(String, (IndexedSeq[KeyedEvent], Long) => Metrics)] = Seq(
      "trailing_inorder" -> ((ev, _) =>
        run(inOrder(ev), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.trailingW(ds, before).toDF())),
      "trailing_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.trailingWDelayed(ds, before, lateness).toDF())),
      "running_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.runningWDelayed(ds, lateness).toDF())),
      "rows_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.trailingRowsWDelayed(ds, nRows, lateness).toDF())),
      "cusum_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.cusumWDelayed(ds, 50000L, 1000000L, lateness).toDF())),
      "topk_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.topkWDelayed(ds, windowMillis = 60000L, k = 3,
            latenessMillis = lateness).toDF())),
      "quantile_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.quantileWDelayed(ds, windowMillis = 60000L,
            latenessMillis = lateness).toDF())),
      // streaming FIR (gate key stream_ewma_stateful): Q30 EWMA-shaped
      // weights, depth 20 — rows-frame state, so flat per-key state is
      // the claim under test
      "ewma_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.weightedRowsWDelayed(ds,
            weights = StreamingOps.EwmaQ30Weights,
            latenessMillis = lateness).toDF())),
      "asof_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd).map(tag), (ds: Dataset[TaggedEvent]) =>
          StreamingOps.asofJoinWDelayed(ds, lateness).toDF())),
      // watermark-free gap sessionization (O(1)/key state): in-order
      // arrival, its batch-identical regime — round-13, paired with the
      // sessionize_inorder hash gate in StreamCorrectness
      "sessionize_inorder" -> ((ev, _) =>
        run(inOrder(ev), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.sessionize(ds, gapMillis = 150L).toDF())),
      // round-14: the watermark-deterministic OOO sessionizer — state
      // is pending RUNS bounded by (lateness + gap) × rate / gap,
      // independent of stream length (the claim under test)
      "sessionize_delayed" -> ((ev, sd) =>
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.sessionizeDelayed(ds, gapMillis = 150L,
            latenessMillis = lateness).toDF())),
      // round-14: dropDuplicatesWithinWatermark under injected exact
      // duplicates — state expires with the watermark, so flat per-key
      // state at 10× is the 100 TB/day contract plain dropDuplicates
      // cannot give
      "dedup_delayed" -> ((ev, sd) =>
        run(ooo(ev.flatMap(e => if (dupOf(e)) Seq(e, e) else Seq(e)), sd),
          (ds: Dataset[KeyedEvent]) => ds
            .withColumn("eventTime",
              org.apache.spark.sql.functions.timestamp_millis(
                org.apache.spark.sql.functions.col("tsMillis")))
            .withWatermark("eventTime", s"$lateness milliseconds")
            .dropDuplicatesWithinWatermark("key", "tsMillis"))),
      // round-14: the heaviest stateful topology — a stream-stream
      // FULL OUTER join holds four state stores per partition and
      // null-flushes BOTH sides at watermark eviction; its
      // state_x10_over_x1 ≈ 1 is the load-bearing join-scale row
      "join_ss_fouter_delayed" -> ((ev, sd) =>
        runJoin(ooo(ev, sd), "fullOuter")),
      // round-16 (r15 verdict item 7): the inner/leftOuter siblings
      // share the fouter topology (four stores, same watermark range
      // condition) but EVICTION differs — inner drops unmatched rows
      // silently, leftOuter null-flushes one side — so each gets its
      // own state-flatness row instead of inheriting fouter's
      "join_ss_inner_delayed" -> ((ev, sd) =>
        runJoin(ooo(ev, sd), "inner")),
      "join_ss_louter_delayed" -> ((ev, sd) =>
        runJoin(ooo(ev, sd), "leftOuter")),
      // round-17 (r16 verdict item 6): the rightOuter eviction arm
      "join_ss_router_delayed" -> ((ev, sd) =>
        runJoin(ooo(ev, sd), "rightOuter")),
      // round-16 (r15 verdict item 4): the three ENGINE-NATIVE
      // aggregation topologies from the round-15 StreamCorrectness
      // arms (mutateStreamW tumbling/sliding + session_window), probed
      // for state flatness like the custom ops. State is the OPEN
      // windows/sessions inside the lateness horizon — O(keys ×
      // windows-in-horizon), independent of stream length; a ratio
      // near 10 would mean the engine's own append-mode eviction is
      // not keeping up with the watermark. Window params mirror
      // StreamCorrectness (60 s tumble, 60 s/20 s slide, 150 ms gap).
      "tumbling_native" -> { (ev, sd) =>
        import org.apache.spark.sql.functions._
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.mutateStreamW(
            ds.toDF()
              .withColumn("eventTime", timestamp_millis(col("tsMillis")))
              .withColumn("v4",
                expr("cast(floor(value * 10000d + 0.5d) as bigint)")),
            "eventTime", s"$lateness milliseconds", "60000 milliseconds",
            by = Seq(col("key")))(
            "cnt" -> count(lit(1)), "sumE4" -> sum(col("v4"))))
      },
      "sliding_native" -> { (ev, sd) =>
        import org.apache.spark.sql.functions._
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) =>
          StreamingOps.mutateStreamW(
            ds.toDF()
              .withColumn("eventTime", timestamp_millis(col("tsMillis")))
              .withColumn("v4",
                expr("cast(floor(value * 10000d + 0.5d) as bigint)")),
            "eventTime", s"$lateness milliseconds", "60000 milliseconds",
            slide = Some("20000 milliseconds"),
            by = Seq(col("key")))(
            "cnt" -> count(lit(1)), "sumE4" -> sum(col("v4"))))
      },
      "session_native" -> { (ev, sd) =>
        import org.apache.spark.sql.functions._
        run(ooo(ev, sd), (ds: Dataset[KeyedEvent]) => ds.toDF()
          .withColumn("eventTime", timestamp_millis(col("tsMillis")))
          .withColumn("v4",
            expr("cast(floor(value * 10000d + 0.5d) as bigint)"))
          .withWatermark("eventTime", s"$lateness milliseconds")
          .groupBy(col("key"),
            session_window(col("eventTime"), "150 milliseconds").as("sw"))
          .agg(count(lit(1)).as("cnt"), sum(col("v4")).as("sumE4")))
      })

    val sb = new StringBuilder
    sb.append("{\n \"metric\": \"stream_probe\",\n")
    sb.append(s""" "fixture": {"keys": $K, "step_ms": $stepMs, """ +
      s""""jitter_ms": $jitterMs, "lateness_ms": $lateness, """ +
      s""""before_ms": $before, "n_rows": $nRows, """ +
      s""""batch_size": $batchSize, "per_key_x1": $perKeyX1, """ +
      s""""mult": $mult},\n""")
    sb.append(" \"ops\": {\n")
    val entries = arms.zipWithIndex.map { case ((name, body), ai) =>
      val ms = Seq(1, mult).map { m =>
        val ev = gen(perKeyX1 * m, seed = 42L + ai)
        val met = body(ev, 42L + ai)
        println(f"[sprobe] $name%-18s x$m%-3d ${met.events}%9d ev " +
          f"${met.drainSec}%7.1fs ${met.evPerSec}%9.0f ev/s " +
          f"state ${met.maxStateRows}%4d rows ${met.maxStateBytes}%10d B " +
          f"out ${met.outRows}%9d")
        met
      }
      val (m1, mx) = (ms.head, ms.last)
      val tRatio = mx.drainSec / (mult * m1.drainSec)
      val sRatio = mx.maxStateBytes.toDouble / math.max(1L, m1.maxStateBytes)
      println(f"[sprobe] $name%-18s time_x${mult}_over_${mult}x_x1 " +
        f"$tRatio%.2f  state_x${mult}_over_x1 $sRatio%.2f")
      def one(m: Metrics): String =
        s"""{"events": ${m.events}, "out_rows": ${m.outRows}, """ +
          f""""drain_sec": ${m.drainSec}%.1f, "ev_per_sec": ${m.evPerSec}%.0f, """ +
          s""""batches": ${m.batches}, "max_state_rows": ${m.maxStateRows}, """ +
          s""""max_state_bytes": ${m.maxStateBytes}}"""
      s"""  "$name": {"x1": ${one(m1)},\n   "x$mult": ${one(mx)},\n""" +
        f"""   "time_x${mult}_over_${mult}x_x1": $tRatio%.2f, """ +
        f""""state_x${mult}_over_x1": $sRatio%.2f}"""
    }
    sb.append(entries.mkString(",\n")).append("\n }\n}\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("STREAMPROBE.json"), sb.toString)
    println("[sprobe] wrote STREAMPROBE.json")
    spark.stop()
  }
}
