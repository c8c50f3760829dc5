package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{StreamRun, StreamingOps}

/** Event-time windowing via Spark's NATIVE time-window operators — the
  * batch twins of the Structured Streaming surface (SURVEY.md §2.4
  * "Streaming" row; streaming/StreamingOps holds the readStream side).
  * `window()` / `session_window()` compile to the same TimeWindow
  * expressions a streaming query uses, so these oracle-gated batch
  * queries pin down exactly the semantics the streaming variant inherits
  * (tumble alignment, slide multiplicity, gap-merge boundary).
  *
  * All bucketing is integer epoch arithmetic (`unix_micros`/`div`), never
  * calendar casts: TimeWindow assigns buckets in epoch micros, so
  * emitting epoch-day/second integers keeps both engines in pure integer
  * math — no timezone or calendar semantics anywhere in the comparison.
  *
  * Scale notes:
  *   - tumbling/session aggregate per (user, window) — ordinary hash
  *     aggs, map-side partials, no global window anywhere;
  *   - sliding multiplies input by windowsPerSlide (7 here) BEFORE the
  *     shuffle — the canonical trade; for big slides prefer tumble+merge
  *     (aggregate per tumble, then roll 7 tumbles up in a second tiny
  *     agg) which this module demonstrates in `window_sliding_week`'s
  *     plan-shape alternative below (kept simple: explode form, 7x);
  *   - gap-fill generates `sequence(lo, hi)` per user — bounded by the
  *     observed span; production would cap the span or bucket coarser.
  */
object TimeSeriesQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    QueryUtil.events(s, dir)

  /** Streaming file sources must declare the on-disk schema of the staged
    * raw copy, then canonicalize ts (nanos BIGINT) on the stream itself.
    * [[QueryUtil.pinEventConfs]] is the NAMED conf contract (UTC +
    * nanosAsLong) and must run before the stream plan is analyzed. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    QueryUtil.pinEventConfs(s)
    val schema = QueryUtil.rawEvents(s, dir).schema
    QueryUtil.normalizeTs(
      s.readStream.schema(schema).parquet(stagedEventsDir(s, dir)))
  }

  private def r4(c: Column): Column = QueryUtil.r4(c)

  /** events.ts is an epoch-NANOS long (QueryUtil.events); the micros
    * timestamp feeds the native TimeWindow operators. */
  private val tts = expr("timestamp_micros(ts div 1000)")

  private val UsPerDay = 86400000000L

  /** Stage the single-file events fixture into a directory for the
    * file streaming source (FileStreamSource lists a directory; the
    * fixture layout is flat files): a plain copy, once per (app,
    * sf-dir), under the [[StreamRun.scratch]] tree. */
  private def stagedEventsDir(s: SparkSession, dir: String): String = {
    val staged = StreamRun.scratch(s, dir, "events")
    val target = new java.io.File(staged, "events.parquet")
    if (!target.isFile) {
      target.getParentFile.mkdirs()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(dir, "events.parquet"), target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    staged
  }

  /** events projected to the staged stream fixtures' row shape
    * [[StreamingOps.KeyedEvent]]: (key, tsMillis, value). */
  private def keyedEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("user_id").as("key"),
      expr("ts div 1000000").as("tsMillis"), col("value"))

  /** `ev` split into three files at the thirds of [lo, hi] on column
    * `c`. */
  private def thirds(ev: DataFrame, c: String, lo: Long,
      hi: Long): Seq[DataFrame] = {
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    Seq(ev.filter(col(c) <= lit(c1)),
      ev.filter(col(c) > lit(c1) && col(c) <= lit(c2)),
      ev.filter(col(c) > lit(c2)))
  }

  /** Stage the sessionize-stream fixture: events projected to
    * (key, tsMillis, value) split into two time-ordered files plus a
    * third file of per-key SENTINEL events 10 gaps past each key's last
    * real event. The sentinel is what makes `flatMapGroupsWithState`
    * sessionization gateable at all: append-mode emission happens only
    * when a LATER event closes a session, so without sentinels every
    * key's final session would stay in the state store forever (the
    * round-5 "inherently ungateable" rationale). A sentinel closes it
    * in-stream; the sentinel's own session never closes, so it never
    * emits — no sink filtering needed. File mtimes ascend so
    * maxFilesPerTrigger=1 replays them as three deterministic
    * micro-batches (sessions spanning the time split exercise real
    * cross-batch state merge); the emitted SET is batching-invariant
    * anyway — closure depends only on per-key event order, and late
    * events coalesce by the same gap rule (StreamingOps.sessionize). */
  private def stagedSessionDir(s: SparkSession, dir: String,
      gapMs: Long): String = StreamRun.stage(s, dir, "sessfix") {
    val ev = keyedEvents(s, dir)
    // one 2-long scalar agg for the time split — a driver step bounded
    // like text_tfidf's corpus count, not a data collect
    val mm = ev.agg(min(col("tsMillis")), max(col("tsMillis"))).head
    val mid = Math.addExact(mm.getLong(0) / 2, mm.getLong(1) / 2)
    val sentinels = ev.groupBy("key")
      .agg((max(col("tsMillis")) + lit(gapMs * 10)).as("tsMillis"))
      .select(col("key"), col("tsMillis"), lit(0.0).as("value"))
    Seq(ev.filter(col("tsMillis") <= lit(mid)),
      ev.filter(col("tsMillis") > lit(mid)), sentinels)
  }

  /** Stage the DELAYED-sessionize fixture (round-14): events projected
    * to (key, tsMillis, value) in JITTERED ts order — a deterministic
    * per-row hash jitter of ±`jMs`, so cross-file arrival disorder is
    * bounded by 2·jMs < the operator's lateness and the engine's late
    * filter provably drops nothing — split into three files by
    * jittered-order thirds, plus TWO trailing all-keys sentinel files
    * (one row per key at s1 = maxTs + lateness + gap + 2s, and at
    * s1 + 1s). The first sentinel batch lifts the watermark past every
    * real session's `end + gap`; the second delivers a row for EVERY
    * key at that watermark (flatMapGroupsWithState only re-evaluates
    * keys present in a batch), so every real session closes in-stream.
    * Sentinel sessions themselves stay pending forever (their end +
    * gap sits above the final watermark) — the established
    * sentinel-never-emits contract, no sink filtering needed. */
  private def stagedDelayedSessionDir(s: SparkSession, dir: String,
      gapMs: Long, jMs: Long, lateMs: Long): String = {
    require(lateMs > 2 * jMs, "lateness must exceed the jitter disorder")
    StreamRun.stage(s, dir, "sessdelfix") {
      val ev = keyedEvents(s, dir)
        .withColumn("__j", col("tsMillis") +
          pmod(xxhash64(col("key"), col("tsMillis")), lit(2 * jMs)) -
          lit(jMs))
      val mm = ev.agg(min(col("__j")), max(col("__j")),
        max(col("tsMillis"))).head
      val s1 = mm.getLong(2) + lateMs + gapMs + 2000L
      def sent(ts: Long) = ev.select(col("key")).distinct()
        .select(col("key"), lit(ts).as("tsMillis"), lit(0.0).as("value"))
      thirds(ev, "__j", mm.getLong(0), mm.getLong(1)).map(_.drop("__j")) ++
        Seq(sent(s1), sent(s1 + 1000L))
    }
  }

  /** Stage the trailing-window stream fixture: events projected to
    * (key, tsMillis, value), split into three GLOBALLY time-ordered
    * files (ascending mtimes; maxFilesPerTrigger=1 replays them as
    * three micro-batches). No sentinels needed — trailingW's emission
    * is immediate on arrival (a trailing frame needs only PAST events),
    * so the append sink is complete once the last file is read. The
    * split boundaries are ts thirds, so a key's events arrive in ts
    * order across batches — the arrival-order contract under which
    * trailingW is exact (ties can't straddle a boundary: a tie shares
    * one ts, and the split is by ts). */
  private def stagedTrailingDir(s: SparkSession, dir: String): String =
    StreamRun.stage(s, dir, "trailfix") {
      val ev = keyedEvents(s, dir)
      val mm = ev.agg(min(col("tsMillis")), max(col("tsMillis"))).head
      thirds(ev, "tsMillis", mm.getLong(0), mm.getLong(1))
    }

  /** Stage the stream-stream JOIN fixture: (event_id, key, tsMillis)
    * split into three globally ts-ordered files (the stagedTrailingDir
    * layout), plus two trailing sentinel files that exist to flush the
    * LEFT-OUTER join's null-extended rows: an outer result only emits
    * when the watermark passes the left row's join-window end, and
    * under AvailableNow the final watermark stops `delay` short of the
    * last real event — the last ~(range) hours of unmatched left rows
    * would never emit. Sentinels at S1 = hi + range + 2s (and S2 =
    * S1 + 1s) on BOTH sides push the min-of-sides watermark past every
    * real row's window end. Sentinel rows carry an explicit staged
    * `side` column and keys -1 (left) / -2 (right): they join nothing
    * (negative keys match no real user and not each other), and their
    * own eviction point S1 + range sits above the final watermark, so
    * they never emit — the established sentinel-never-emits contract. */
  private def stagedJoinDir(s: SparkSession, dir: String): String =
    StreamRun.stage(s, dir, "ssjoinfix") {
      val rangeMs = 3600000L // the joins' ±1 h band
      // quarter of the events per side (mod-4 halves 0/1), with the
      // side STAGED as a column — sentinel rows then pick their side
      // explicitly instead of fighting Scala's negative-% semantics
      val ev = events(s, dir)
        .filter(col("event_id") % 4 < 2)
        .select(col("event_id"), col("user_id").as("key"),
          expr("ts div 1000000").as("tsMillis"),
          (col("event_id") % 4).cast("int").as("side"))
      val mm = ev.agg(min(col("tsMillis")), max(col("tsMillis"))).head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      import s.implicits._
      val sentinel = (ts: Long, gen: Int) => Seq(
        (-2L - 2 * gen, -1L, ts, 0), (-1L - 2 * gen, -2L, ts, 1))
        .toDF("event_id", "key", "tsMillis", "side")
      val s1 = hi + rangeMs + 2000L
      thirds(ev, "tsMillis", lo, hi) ++
        Seq(sentinel(s1, 0), sentinel(s1 + 1000L, 1))
    }

  /** The staged join fixture's two watermarked sides (1 s delay), read
    * as two file streams over the same directory: left = side 0 as
    * (l_id, key, l_ts), right = side 1 as (r_id, r_key, r_ts). */
  private def joinSides(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val schema = new StructType().add("event_id", LongType)
      .add("key", LongType).add("tsMillis", LongType)
      .add("side", IntegerType)
    val srcDir = stagedJoinDir(s, dir)
    def src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val l = src.filter(col("side") === 0)
      .select(col("event_id").as("l_id"), col("key"),
        timestamp_millis(col("tsMillis")).as("l_ts"))
      .withWatermark("l_ts", "1 second")
    val r = src.filter(col("side") === 1)
      .select(col("event_id").as("r_id"), col("key").as("r_key"),
        timestamp_millis(col("tsMillis")).as("r_ts"))
      .withWatermark("r_ts", "1 second")
    (l, r)
  }

  /** The ±1 h event-time band of the three outer stream-stream joins. */
  private val joinBand = col("key") === col("r_key") &&
    col("r_ts") >= col("l_ts") - expr("INTERVAL 1 HOUR") &&
    col("r_ts") <= col("l_ts") + expr("INTERVAL 1 HOUR")

  /** Arrival disorder of the OUT-OF-ORDER fixtures (2 h each way) and
    * the lateness every _ooo key runs with: 2J + 1 s, so the engine's
    * late filter provably drops nothing. */
  private val OooJitterMs = 2L * 3600L * 1000L
  private val OooLatenessMs = 2 * OooJitterMs + 1000L

  /** Stage the OUT-OF-ORDER trailing fixture (r07 verdict item 4): the
    * same (key, tsMillis, value) projection, but split into three files
    * by a JITTERED arrival time — each row's arrival position is its
    * event time plus a deterministic per-row jitter in [-J, +J]
    * (xxhash64), so every file spans overlapping time ranges and a key's
    * events genuinely arrive out of ts order across micro-batches.
    * Disorder is bounded by 2J, so a lateness of 2J + 1s guarantees the
    * engine's late filter drops nothing (watermark before batch i+1 is
    * at most c_i + J - L <= c_i - J - 1s, below any later arrival's
    * event time). Two trailing sentinel files (every distinct key, at
    * S1 = hi + L + 1s and S2 = S1 + 1s) advance the watermark past hi
    * and invoke every key one last time, flushing all pending rows; the
    * sentinels' own rows sit forever above the final watermark, so they
    * never emit — no sink filtering needed (the sessionize pattern). */
  private def stagedTrailingOooDir(s: SparkSession, dir: String,
      tailMs: Long = 1000L, tag: String = ""): String =
    StreamRun.stage(s, dir, s"trailooofix$tag") {
      val ev = keyedEvents(s, dir)
        .withColumn("arrival", col("tsMillis") +
          pmod(xxhash64(col("key"), col("tsMillis")),
            lit(2 * OooJitterMs + 1)) - lit(OooJitterMs))
      val mm = ev.agg(min(col("arrival")), max(col("arrival")),
        max(col("tsMillis"))).head
      val hi = mm.getLong(2)
      val sentinel = (ts: Long) => ev.select(col("key")).distinct()
        .select(col("key"), lit(ts).as("tsMillis"), lit(0.0).as("value"))
      // tailMs sizes the final watermark: wm_final = S1 - lateness =
      // hi + tailMs, so a lookahead frame needs tailMs > afterMillis to
      // flush every real row
      thirds(ev, "arrival", mm.getLong(0), mm.getLong(1))
        .map(_.drop("arrival")) ++
        Seq(sentinel(hi + OooLatenessMs + tailMs),
          sentinel(hi + OooLatenessMs + tailMs + 1000L))
    }

  /** The sink projections shared by the per-row window keys: trailing
    * frames (count, exact e4 sum) and running frames (cumulative). */
  private def winCols(sink: DataFrame): DataFrame =
    sink.select(col("key").as("user_id"), col("tsMillis").as("ts_ms"),
      col("winN").as("win_n"), col("winSumE4").as("win_sum_e4"))

  private def cumCols(sink: DataFrame): DataFrame =
    sink.select(col("key").as("user_id"), col("tsMillis").as("ts_ms"),
      col("cumN").as("cum_n"), col("cumSumE4").as("cum_sum_e4"))

  /** Q30 fixed-point truncated-EWMA weights — the single shared
    * definition ([[graft.streaming.StreamingOps.EwmaQ30Weights]]),
    * embedded as the SAME integer literals in the streaming FIR op and
    * the DuckDB oracle so the stream_ewma_stateful compare is exact
    * int64 end to end (the streaming family's no-float-dimension
    * contract). */
  private[queries] val EwmaQWeights: Seq[Long] =
    graft.streaming.StreamingOps.EwmaQ30Weights

  private val StatefulStreamKeys = Set(
    "window_stream_rows", "window_stream_rows_ooo",
    "window_stream_running_ooo",
    "window_stream_running_lookahead",
    "window_stream_running", "window_stream_lookahead",
    "window_stream_trailing_ooo", "window_stream_trailing",
    "window_stream_tumbling", "window_stream_sliding",
    "dedup_stream_exact", "sessionize_stream_stateful",
    "sessionize_stream_delayed",
    "stream_cusum_stateful", "stream_topk_stateful",
    "stream_quantile_stateful", "stream_ewma_stateful",
    "join_stream_asof",
    "join_stream_stream", "join_stream_stream_louter",
    "join_stream_stream_fouter", "join_stream_stream_router")

  /** EVERY key whose query constructor executes a micro-batch pipeline
    * and returns a memory-sink scan (so there is no lintable batch
    * plan): the stateful set above plus the two stateless stream keys.
    * This is the authoritative streaming-key registry — the PlanAudit
    * sweep (plans/AuditInventory.sweepKeys) excludes exactly this set
    * instead of a name-substring guess, so a future non-streaming key
    * that happens to contain "stream" still gets linted. */
  val streamingKeys: Set[String] =
    StatefulStreamKeys ++ Set("join_stream_static", "join_stream_scd2",
      "stream_sink_idempotent")

  /** Shuffle partitions of every stateful stream key's micro-batches. */
  private val StreamShufflePartitions = 4L

  private def withStreamParts[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    // State-store instances scale with partitions (a stream-stream join
    // keeps FOUR per partition per micro-batch), not with rows, at this
    // volume: StreamShufflePartitions is the round-9 measured optimum.
    try {
      s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
      body
    }
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // lazy: rawQueries is declared below (object vals init in order)
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> (if (StatefulStreamKeys(name))
        (s: SparkSession, d: String) => withStreamParts(s)(fn(s, d))
      else fn)
    }

  private val rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "window_stream_rows" -> ((s, dir) => {
      // Trailing N-ROWS frame on a stream — the degradation matrix's
      // (Rows(b), Rows(0)) StatefulOnly recipe realized
      // (StreamingOps.trailingRowsW): per-key buffer of exactly the
      // previous 9 entries, O(nRows) state — independent of frame span
      // and arrival rate, the cheapest stateful window shape. Same
      // ts-ordered three-file replay and exact scaled-integer sums as
      // window_stream_trailing; the oracle is the batch
      // ROWS BETWEEN 9 PRECEDING AND CURRENT ROW window ordered by
      // (ts_ms, v4) — the output multiset is tie-order invariant, which
      // is what the sorted-hash gate compares.
      StreamRun.run(s, StreamingOps.trailingRowsW(
        StreamRun.keyed(s, stagedTrailingDir(s, dir)), nRows = 10).toDF())(
        winCols)
    }),
    "window_stream_running" -> ((s, dir) => {
      // RUNNING aggregate on a stream — the degradation matrix's first
      // StatefulOnly recipe realized with O(1) per-key state
      // (StreamingOps.runningW: an accumulator, not a buffer — state
      // ∝ |active keys| at 100 TB). The batch `.frame = c(Inf, 0)`
      // range semantics: ties share the frame, so the oracle is the
      // UNBOUNDED PRECEDING range window. Same ts-ordered three-file
      // replay as window_stream_trailing (ties can't straddle a split:
      // the split is by ts), same exact scaled-integer sums.
      StreamRun.run(s, StreamingOps.runningW(
        StreamRun.keyed(s, stagedTrailingDir(s, dir))).toDF())(cumCols)
    }),
    "window_stream_lookahead" -> ((s, dir) => {
      // FINITE POSITIVE TIME LOOKAHEAD on a stream — the last
      // StatefulOnly recipe realized (StreamingOps.trailingWDelayed
      // with afterMillis > 0): frame [t-1h, t+30min], each row released
      // when the watermark passes its hi boundary. Runs over the SAME
      // jitter-shuffled out-of-order fixture as _ooo (tail sized so the
      // sentinel watermark clears every row's lookahead), so this key
      // pins both the future-frame semantics AND their exactness under
      // disorder. Oracle = the batch range frame with a FOLLOWING
      // endpoint.
      val after = 1800L * 1000L                   // +30 min lookahead
      val src = StreamRun.keyed(s,
        stagedTrailingOooDir(s, dir, tailMs = after + 1000L, tag = "_la"))
      StreamRun.run(s, StreamingOps.trailingWDelayed(src,
        beforeMillis = 3600L * 1000L, latenessMillis = OooLatenessMs,
        afterMillis = after).toDF())(winCols)
    }),
    "window_stream_rows_ooo" -> ((s, dir) => {
      // Trailing N-ROWS frame under OUT-OF-ORDER arrival
      // (StreamingOps.trailingRowsWDelayed): row order is the total
      // (ts, v4) order, a row releases when the watermark strictly
      // passes its ts, and its frame (self + the 9 rows before it in
      // that order) is exact under the fixture's 2x2h shuffle. State =
      // trailing 9 entries of the released prefix + the lateness
      // sliver. Same jitter-shuffled fixture as the other _ooo keys;
      // oracle = the batch ROWS frame ordered by (ts_ms, v4).
      StreamRun.run(s, StreamingOps.trailingRowsWDelayed(
        StreamRun.keyed(s, stagedTrailingOooDir(s, dir)), nRows = 10,
        latenessMillis = OooLatenessMs).toDF())(winCols)
    }),
    "window_stream_running_lookahead" -> ((s, dir) => {
      // Running aggregate WITH a positive time lookahead on a stream —
      // the (Unbounded, time a>0) matrix arm executed: frame
      // [-inf, t+30min], each row released when the watermark passes
      // t+after, its value folding every frame member (including
      // still-unreleased lookahead rows — the fold/emit pendings
      // differ, see RunningDelayBuf). Same jitter-shuffled fixture as
      // window_stream_lookahead; oracle = the batch range frame with
      // UNBOUNDED PRECEDING and a FOLLOWING end.
      val after = 1800L * 1000L
      val src = StreamRun.keyed(s,
        stagedTrailingOooDir(s, dir, tailMs = after + 1000L, tag = "_la"))
      StreamRun.run(s, StreamingOps.runningWDelayed(src,
        latenessMillis = OooLatenessMs, afterMillis = after).toDF())(cumCols)
    }),
    "window_stream_running_ooo" -> ((s, dir) => {
      // RUNNING aggregate under OUT-OF-ORDER arrival — the LAST
      // StatefulOnly recipe of the degradation matrix realized
      // (StreamingOps.runningWDelayed): O(1) accumulator + a pending
      // buffer spanning only the lateness sliver; each row's cumulative
      // (count, exact sum) releases when the watermark strictly passes
      // its timestamp, so the emission is EXACT under the fixture's
      // 2×2h shuffle — gated against the very same unbounded-range
      // batch oracle as the ts-ordered running key.
      StreamRun.run(s, StreamingOps.runningWDelayed(
        StreamRun.keyed(s, stagedTrailingOooDir(s, dir)),
        OooLatenessMs).toDF())(cumCols)
    }),
    "join_stream_asof" -> ((s, dir) => {
      // Stream-stream AS-OF join — the temporal-join shape Structured
      // Streaming's equality/range stream-stream joins cannot express
      // (StreamingOps.asofJoinWDelayed: union-tag + per-key quote
      // book). The side split is the engine-stable 60-bit hash of
      // (key, ts) — replayable in DuckDB, and rows sharing (key, ts)
      // land on ONE side, so the as-of has no cross-side tie. Gated
      // against DuckDB's native ASOF LEFT JOIN over the same rows
      // (right side pre-aggregated to per-ts max, the operator's tie
      // rule) under the fixture's 2×2h shuffled arrival.
      import s.implicits._
      val src = StreamRun.keyed(s, stagedTrailingOooDir(s, dir)).toDF()
        .withColumn("isQuote",
          conv(substring(md5(concat(col("key").cast("string"), lit(":"),
            col("tsMillis").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 4 === 0)
        .as[StreamingOps.TaggedEvent]
      StreamRun.run(s,
        StreamingOps.asofJoinWDelayed(src, OooLatenessMs).toDF()) {
        _.select(col("key").as("user_id"), col("tsMillis").as("ts_ms"),
          col("valueE4").as("value_e4"), col("quoteE4").as("quote_e4"))
      }
    }),
    "stream_cusum_stateful" -> ((s, dir) => {
      // CUSUM drift detection on the OOO stream — the streaming twin
      // of ts_changepoint_cusum and the first ORDER-DEPENDENT stateful
      // recipe in the family (a running sum folds in any order; the
      // max(0, s+v−a) recursion cannot). cusumWDelayed releases
      // tie-groups in event-time order once the watermark strictly
      // passes them, so under the fixture's 2×2h shuffle the emitted
      // CUSUM sequence is EXACT — gated against the batch running-min
      // identity in DuckDB on the same rows. Exact integers end to
      // end: scaledE4 values, integer allowance a=75.0 / threshold
      // h=200.0 (E4 units), integer drift predicate.
      StreamRun.run(s, StreamingOps.cusumWDelayed(
        StreamRun.keyed(s, stagedTrailingOooDir(s, dir)),
        allowanceE4 = 750000L, thresholdE4 = 2000000L,
        latenessMillis = OooLatenessMs).toDF()) {
        _.select(col("key").as("user_id"), col("tsMillis").as("ts_ms"),
          col("cusumE4").as("cusum_e4"), col("isDrift").as("is_drift"))
      }
    }),
    "stream_topk_stateful" -> ((s, dir) => {
      // TOP-K heavy values per (user, 4h tumbling window) on the OOO
      // stream — the op Structured Streaming CANNOT express natively:
      // windowed counts are one streaming aggregation and ranking them
      // per window is a second, but chained streaming aggregations are
      // unsupported in append mode; StreamingOps.topkWDelayed does
      // both in one flatMapGroupsWithState (count bags per open
      // window, ranked emission on window close). Counting is
      // order-independent, so unlike the cusum key there is no
      // tie-release contract to honor — the fixture's 2×2h shuffle
      // exercises pure cross-batch bag merging, and the tailMs margin
      // (> window span) guarantees the final watermark closes every
      // REAL window while the sentinels' own windows stay open forever
      // (never emitted, so no sink filtering). Oracle = the batch
      // GROUP BY (user, window, value) + row_number ranking — exact
      // integers end to end (scaledE4 values, counts, ranks).
      val winMs = 4L * 3600L * 1000L
      val src = StreamRun.keyed(s,
        stagedTrailingOooDir(s, dir, tailMs = winMs + 1000L, tag = "topk"))
      StreamRun.run(s, StreamingOps.topkWDelayed(src, windowMillis = winMs,
        k = 3, latenessMillis = OooLatenessMs).toDF()) {
        _.select(col("key").as("user_id"),
          col("winStartMillis").as("win_start_ms"), col("rank"),
          col("valueE4").as("value_e4"), col("cnt"))
      }
    }),
    "stream_quantile_stateful" -> ((s, dir) => {
      // P50/P95 per (user, 4h tumbling window) on the OOO stream — the
      // latency-monitoring staple (round-12 verdict item 7) and the
      // second ORDER-INDEPENDENT state shape beside topk: the per-open-
      // window value→count bag is an exact mergeable sketch in the
      // e4-scaled domain, folded under the fixture's 2×2h shuffle and
      // finalized on window close (StreamingOps.quantileWDelayed).
      // Quantile ranks are 1-based ceil indices computed in INTEGER
      // arithmetic on both engines — p50=(n+1)//2, p95=(95n+99)//100 —
      // so the compare has no float dimension. Reuses the topk staged
      // fixture verbatim (same jitter/lateness/tailMs → same dir): the
      // tail margin closes every real window while the sentinels' own
      // windows stay open forever.
      val winMs = 4L * 3600L * 1000L
      val src = StreamRun.keyed(s,
        stagedTrailingOooDir(s, dir, tailMs = winMs + 1000L, tag = "topk"))
      StreamRun.run(s, StreamingOps.quantileWDelayed(src,
        windowMillis = winMs, latenessMillis = OooLatenessMs).toDF()) {
        _.select(col("key").as("user_id"),
          col("winStartMillis").as("win_start_ms"), col("n"),
          col("p50E4").as("p50_e4"), col("p95E4").as("p95_e4"))
      }
    }),
    "stream_ewma_stateful" -> ((s, dir) => {
      // Truncated EWMA per user on the OOO stream — the exponential
      // recency feature (fraud scores, rate trackers) computed AT every
      // event: StreamingOps.weightedRowsWDelayed is the streaming FIR
      // filter (trailing-rows state + a weighted emission), and EWMA is
      // its geometric-weights instantiation. The recurrence itself is
      // ORDER-DEPENDENT — the one state shape the family hadn't
      // covered: unlike sums/bags the value at each event depends on
      // the exact (ts, v4) total order of its 20 predecessors, so the
      // delayed release machinery (emit once the watermark proves the
      // prefix complete) is what makes OOO arrival exact rather than
      // merely convergent. Weights are the batch window_ewma
      // coefficients QUANTIZED to Q30 fixed point (floor(0.3·0.7ʲ·2³⁰),
      // embedded as the same integer literals in the oracle), so the
      // emitted dot is exact int64 — the streaming family keeps its
      // no-float-dimension compare (bound: v4 ≤ 6·10⁶ on the fixture ×
      // Σw < 2³⁰ → < 7·10¹⁵). Reuses the trailing-OOO staged fixture
      // (2×2h shuffle in a 4h lateness, sentinel flush).
      StreamRun.run(s, StreamingOps.weightedRowsWDelayed(
        StreamRun.keyed(s, stagedTrailingOooDir(s, dir)),
        weights = EwmaQWeights, latenessMillis = OooLatenessMs).toDF()) {
        _.select(col("key").as("user_id"), col("tsMillis").as("ts_ms"),
          col("firQ").as("ewma_q30"))
      }
    }),
    "window_stream_trailing_ooo" -> ((s, dir) => {
      // The trailing per-row frame under OUT-OF-ORDER arrival — the
      // watermark-delayed exact path (StreamingOps.trailingWDelayed),
      // gated against the very same batch-range-frame oracle as the
      // ts-ordered key: five micro-batches (three jitter-shuffled data
      // files + two sentinel files), disorder up to 2×2h inside a 4h
      // lateness, per-key cross-batch buffer merge of genuinely
      // unsorted arrivals. Same exact scaled-integer sums — the stream
      // compare has no float dimension.
      StreamRun.run(s, StreamingOps.trailingWDelayed(
        StreamRun.keyed(s, stagedTrailingOooDir(s, dir)),
        beforeMillis = 3600L * 1000L,
        latenessMillis = OooLatenessMs).toDF())(winCols)
    }),
    "window_stream_trailing" -> ((s, dir) => {
      // PER-ROW trailing range frame ON A STREAM — the reference's
      // flagship `.frame = c(before, 0)` semantics in streaming form
      // (StreamingOps.trailingW), run to completion and hash-gated.
      // This realizes the degradation matrix's StatefulOnly recipe
      // (StreamingOps.supports: "watermark-bounded per-key event-time
      // buffer") instead of just stating it: per-key bounded buffer,
      // one output row PER EVENT carrying its own trailing-hour
      // aggregate, cross-batch state merge forced by
      // maxFilesPerTrigger=1 over three time-split files. The sum is
      // an EXACT scaled-integer (value is 1e-4-exact), so the oracle
      // compare has no float dimension at all. Oracle = the batch
      // RANGE frame over millis — per-row trailing windows ARE what
      // range frames mean, so the two must agree row-for-row.
      StreamRun.run(s, StreamingOps.trailingW(
        StreamRun.keyed(s, stagedTrailingDir(s, dir)),
        beforeMillis = 3600L * 1000L).toDF())(winCols)
    }),
    "window_tumbling_day" -> ((s, dir) => {
      // native tumbling window: window(ts, '1 day') — epoch-aligned
      // buckets, one hash agg over (user, window)
      events(s, dir)
        .groupBy(col("user_id"), window(tts, "1 day").as("w"))
        // decimal-exact sum (round-7 fragility audit): value is
        // 1e-4-exact; grouped float sums combine nondeterministically
        .agg(count(lit(1)).as("n"),
          r4(sum(col("value").cast("decimal(8,4)")).cast("double"))
            .as("sum_v"))
        .select(col("user_id"),
          expr(s"unix_micros(w.start) div $UsPerDay").as("day"),
          col("n"), col("sum_v"))
    }),
    "window_sliding_week" -> ((s, dir) => {
      // native sliding window: window(ts, '7 days', '1 day') — every
      // event lands in 7 epoch-aligned windows; starts span
      // [day-6, day]
      events(s, dir)
        .groupBy(col("user_id"), window(tts, "7 days", "1 day").as("w"))
        .agg(count(lit(1)).as("n"), r4(avg(col("value"))).as("avg_v"))
        .select(col("user_id"),
          expr(s"unix_micros(w.start) div $UsPerDay").as("win_start_day"),
          col("n"), col("avg_v"))
    }),
    "window_session_native" -> ((s, dir) => {
      // native session_window(ts, '30 minutes'): per-event windows
      // [t, t+gap] merged while touching — an event at EXACTLY prev+gap
      // still MERGES (verified identically in batch and streaming,
      // StreamingSpec "runs IDENTICALLY"), so the oracle breaks only on
      // `diff > gap` in micros — the same strict-inequality convention
      // as sessionize_gap. Batch twin of sessionize_gap (same corpus,
      // different operator: session-merge aggregation instead of two
      // window passes).
      events(s, dir)
        .groupBy(col("user_id"), session_window(tts, "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          r4(sum(col("value").cast("decimal(8,4)")).cast("double"))
            .as("sum_v"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("sess_start_us"),
          col("n"), col("sum_v"))
    }),
    "window_stream_tumbling" -> ((s, dir) => {
      // REAL Structured Streaming execution in the oracle harness (the
      // streaming surface was spec-only through round 5): the bounded
      // events file is readStream'd, run through StreamingOps.mutateStreamW
      // (watermark + tumbling 1-day window + .by user) under
      // Trigger.AvailableNow to COMPLETION, and the memory-sink table —
      // the stream's own output, not a batch re-computation — is returned
      // for the DuckDB hash gate. Complete output mode makes the final
      // sink state exactly the full aggregation (Append would hold back
      // windows above the end-of-stream watermark), so the run is
      // deterministic — no flakiness. The collected sink is an aggregate
      // bounded like a broadcast side (|users|×|days|), not raw events.
      // FileStreamSource requires a DIRECTORY source; the fixture is a
      // single flat file, so eventsStream stages it into the
      // StreamRun.scratch tree (the file is MB-scale fixture data, not a
      // big copy)
      val src = eventsStream(s, dir)
      val agg = StreamingOps.mutateStreamW(
        src.withColumn("tts", tts), "tts", watermark = "1 day",
        windowLen = "1 day", by = Seq(col("user_id")))(
        "n" -> count(lit(1)),
        "sum_v" -> sum(col("value").cast("decimal(8,4)")))
      StreamRun.run(s, agg, "complete") {
        _.select(col("user_id"),
          expr(s"unix_micros(window.start) div $UsPerDay").as("day"),
          col("n"), r4(col("sum_v").cast("double")).as("sum_v"))
      }
    }),
    "window_stream_sliding" -> ((s, dir) => {
      // Streaming SLIDING-window aggregation run to completion — the
      // second real streaming execution in the oracle gate (tumbling
      // pinned alignment; this pins slide multiplicity: every event in 7
      // overlapping epoch-aligned windows BEFORE the shuffle, identical
      // to the batch twin window_sliding_week). Complete mode again makes
      // the final memory-sink state the full aggregation — deterministic,
      // no watermark holdback.
      val src = eventsStream(s, dir)
      val agg = StreamingOps.mutateStreamW(
        src.withColumn("tts", tts), "tts", watermark = "1 day",
        windowLen = "7 days", slide = Some("1 day"),
        by = Seq(col("user_id")))(
        "n" -> count(lit(1)), "avg_v" -> avg(col("value")))
      StreamRun.run(s, agg, "complete") {
        _.select(col("user_id"),
          expr(s"unix_micros(window.start) div $UsPerDay")
            .as("win_start_day"),
          col("n"), r4(col("avg_v")).as("avg_v"))
      }
    }),
    "dedup_stream_exact" -> ((s, dir) => {
      // Streaming exact dedup (dropDuplicatesWithinWatermark) run to
      // completion: first arrival per (user_id, event_type) passes, later
      // duplicates within the watermark bound are dropped. Projecting to
      // the KEY columns makes the appended sink a deterministic SET (which
      // physical row won arrival order is batch-internal, but its key
      // projection is not) — so the streaming state machine itself is
      // hash-gated against DISTINCT. The delay bound covers the whole
      // bounded fixture; production picks the real lateness horizon and
      // state expires with the watermark (the 100 TB/day contract plain
      // dropDuplicates can't give — see StreamingOps.dedupStream).
      val src = eventsStream(s, dir)
      val dd = StreamingOps.dedupStream(
        src.withColumn("tts", tts), "tts", watermark = "3650 days",
        keys = Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
      StreamRun.run(s, dd)(identity)
    }),
    "sessionize_stream_stateful" -> ((s, dir) => {
      // STATEFUL streaming sessionization (flatMapGroupsWithState) run to
      // completion and hash-gated — the last spec-only component from
      // round 5. The sentinel-closure staging (stagedSessionDir) makes
      // append-mode emission complete: every real session is closed
      // in-stream by a later event (cross-file sessions merge through the
      // state store across micro-batches; maxFilesPerTrigger=1 forces
      // three real batches), and the per-key sentinel session itself
      // never emits. The sink is therefore exactly the batch gap
      // sessionization — same 30-min strict-> convention as
      // sessionize_gap, at millisecond granularity. State per key is
      // O(1); at 100 TB the state store scales with |active keys|.
      val gapMs = 1800L * 1000L
      val sessions = StreamingOps.sessionize(
        StreamRun.keyed(s, stagedSessionDir(s, dir, gapMs)), gapMs)
      StreamRun.run(s, sessions.toDF()) {
        _.select(col("key").as("user_id"),
          col("startMillis").as("sess_start_ms"),
          col("endMillis").as("sess_end_ms"),
          col("nEvents").as("n"), r4(col("sumValue")).as("sum_v"))
      }
    }),
    "sessionize_stream_delayed" -> ((s, dir) => {
      // The WATERMARK-DETERMINISTIC sessionizer as an inventory key
      // (round-14; the operator's 2M-event hash gate lives in
      // STREAMCORRECTNESS): StreamingOps.sessionizeDelayed over
      // OUT-OF-ORDER staged arrival — deterministic ±5-day hash
      // jitter, 11-day lateness (> 2·jitter, so the engine's late
      // filter provably drops nothing), 30-day gap. Sessions are
      // pending interval RUNS emitted only when the watermark strictly
      // passes end + gap, so the appended sink is a pure function of
      // the event SET — the batch gap sessionization, which IS the
      // oracle — under arrival disorder the in-order
      // sessionize_stream_stateful key cannot tolerate. Exact-integer
      // sums (scaledE4 grid) keep the compare float-free; sentinel
      // sessions never emit (their end + gap sits above the final
      // watermark), so the sink needs no filtering.
      val gapMs = 2592000000L        // 30 days
      val jMs = 5L * 86400000L       // +-5 days arrival jitter
      val lateMs = 11L * 86400000L   // watermark delay > 2*jitter
      val sessions = StreamingOps.sessionizeDelayed(StreamRun.keyed(s,
        stagedDelayedSessionDir(s, dir, gapMs, jMs, lateMs)), gapMs, lateMs)
      StreamRun.run(s, sessions.toDF()) {
        _.select(col("key").as("user_id"),
          col("startMillis").as("sess_start_ms"),
          col("endMillis").as("sess_end_ms"),
          col("nEvents").as("n"), col("sumE4").as("sum_e4"))
      }
    }),
    "join_stream_static" -> ((s, dir) => {
      // STREAM-STATIC join run to completion — the enrichment pattern
      // (events stream joined to a slowly-changing dimension). The
      // static side is a batch aggregate (per-user lifetime mean)
      // broadcast into every micro-batch; stream-static inner joins are
      // stateless (no watermark, no state store), so this is the
      // cheapest join a 100 TB/day stream can do — dimension lookups
      // never shuffle the stream. Appended sink = the plain batch join,
      // which IS the oracle.
      val dim = events(s, dir).groupBy("user_id")
        .agg(r4(avg(col("value"))).as("user_mean"))
      val src = eventsStream(s, dir)
      val joined = src.join(broadcast(dim), Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("user_mean"),
          r4(col("value") - col("user_mean")).as("delta"))
      StreamRun.run(s, joined)(identity)
    }),
    "join_stream_scd2" -> ((s, dir) => {
      // SCD2-VERSIONED stream enrichment — the temporal dimension
      // lookup a lakehouse pipeline runs: each event joins the dim
      // VERSION valid AT its event time (valid_from ≤ d < valid_to,
      // current row open-ended), not the latest row — join_stream
      // _static's equi-lookup cannot express this. Stream-static LEFT
      // join with the range condition: STATELESS (no watermark, no
      // state store) — the versioned history is broadcast into every
      // micro-batch and the stream never shuffles; at 100 TB/day this
      // is the standard as-at lookup against an SCD2 customer
      // dimension (at a dim too big to broadcast, the same join runs
      // shuffle-side per batch — still stateless). Dim =
      // Scd2.intervals over orders (scd2_intervals' history); events
      // map onto the dim's key/date domain deterministically (pmod
      // into custkeys, day offset into the 1992–1998 order-date span —
      // the planted-twin convention; keys without history surface
      // NULL status through the LEFT join). Oracle = the identical
      // batch LEFT join over the recomputed history.
      val log = QueryUtil.t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
      val dim = graft.operators.Scd2.intervals(log,
          keyCols = Seq("o_custkey"), tsCol = "o_orderdate",
          tieCols = Seq("o_orderkey"), attrCols = Seq("o_orderstatus"))
        .select(col("o_custkey").cast("long").as("dck"),
          col("o_orderstatus").as("status"),
          col("valid_from").cast("date").as("vf"),
          col("valid_to").cast("date").as("vt"))
      val ev = eventsStream(s, dir).select(col("event_id"),
        (pmod(col("user_id"), lit(1500L)) + 1L).as("ck"),
        expr("date_add(date'1992-01-01', " +
          "cast(pmod(ts div 86400000000000, 2500) as int))").as("d"))
      val joined = ev.join(broadcast(dim),
          col("ck") === col("dck") && col("d") >= col("vf") &&
            (col("vt").isNull || col("d") < col("vt")), "left")
        .select(col("event_id"), col("ck"),
          col("d").cast("string").as("event_day"), col("status"))
      StreamRun.run(s, joined)(identity)
    }),
    "join_stream_stream" -> ((s, dir) => {
      // STREAM-STREAM inner join run to completion — the one streaming
      // join shape with genuine two-sided state: both sides buffer rows
      // until the event-time range condition can no longer match
      // (watermark-bounded state eviction). Even/odd event-id halves of
      // the stream joined per user within ±1 hour event time. The
      // watermark here COVERS the fixture span (40 days) so no match is
      // ever dropped and the appended sink equals the batch inequality
      // join exactly — production would run a tight delay and trade
      // late matches for bounded state; the range condition (not the
      // watermark) is what lets Spark evict either side's buffer.
      val l = eventsStream(s, dir)
        .filter(col("event_id") % 2 === 0)
        .select(col("event_id").as("l_id"), col("user_id"),
          tts.as("l_ts"))
        .withWatermark("l_ts", "40 days")
      val r = eventsStream(s, dir)
        .filter(col("event_id") % 2 === 1)
        .select(col("event_id").as("r_id"), col("user_id").as("r_uid"),
          tts.as("r_ts"))
        .withWatermark("r_ts", "40 days")
      val joined = l.join(r, col("user_id") === col("r_uid") &&
          col("r_ts") >= col("l_ts") - expr("INTERVAL 1 HOUR") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("l_id"), col("user_id"), col("r_id"))
      StreamRun.run(s, joined)(identity)
    }),
    "join_stream_stream_louter" -> ((s, dir) => {
      // Stream-stream LEFT-OUTER join — the semantics inner join can't
      // give: an unmatched left row must emit null-extended, and only
      // the WATERMARK can prove "no match will ever arrive" (the row
      // emits when the global watermark passes its join-window end, at
      // state eviction). Mod-4 event-id quarters (sides 0/1) per user
      // within ±1h;
      // five micro-batches over the ts-ordered staged fixture, 1s
      // delay; the two sentinel files push the final watermark past
      // every real row's window end so ALL null extensions flush
      // (stagedJoinDir scaladoc has the arithmetic — without them the
      // last ~1h of unmatched left rows would be missing from the
      // sink, silently). Oracle: the plain batch LEFT JOIN.
      // State-store note: a streaming join keeps four state stores per
      // shuffle partition per micro-batch; at 32 partitions × 5
      // batches the store machinery dwarfed the data (19s at sf0.1) —
      // scoping shuffle.partitions to StreamShufflePartitions (4, see
      // withStreamParts) is the knob a real deployment would tune
      // per-stream (state cost scales with partitions, not rows, at
      // this volume).
      val (l, r) = joinSides(s, dir)
      val joined = l.join(r, joinBand, "leftOuter")
        // NO key-sign "sentinel guard" filter here: sentinels never
        // emit by construction (their eviction point sits above the
        // final watermark), and a `key >= 0` filter is actively fatal —
        // Catalyst pushes it below the left-side watermark (and infers
        // `r_key >= 0` across the equi-join onto the right side), so
        // parquet row-group stats skip the sentinel files entirely and
        // both watermarks stall at the last data batch, leaving the
        // tail's null extensions unflushed. Filter-pushdown is usually
        // the free win; on watermark-carrying rows it's a correctness
        // hazard.
        .select(col("l_id"), col("key").as("user_id"), col("r_id"))
      StreamRun.run(s, joined)(identity)
    }),
    "join_stream_stream_fouter" -> ((s, dir) => {
      // Stream-stream FULL-OUTER join — BOTH directions of the louter
      // key's watermark proof: an unmatched row on EITHER side emits
      // null-extended only when the global watermark passes its join
      // window's end at state eviction. Same shared fixture (the
      // two-sided sentinel files advance both watermarks past every
      // real row's window end, so both sides' null extensions flush;
      // the sentinels' own eviction points sit above the final
      // watermark, so they never emit). Same pushdown hazard applies:
      // no post-join filters — see the louter key's note. Oracle: the
      // plain batch FULL JOIN; user_id coalesces across sides.
      val (l, r) = joinSides(s, dir)
      val joined = l.join(r, joinBand, "fullOuter")
        .select(col("l_id"),
          coalesce(col("key"), col("r_key")).as("user_id"), col("r_id"))
      StreamRun.run(s, joined)(identity)
    }),
    "join_stream_stream_router" -> ((s, dir) => {
      // Stream-stream RIGHT-OUTER join (round 17, r16 verdict item 6)
      // — the fourth and last outer flavor: Structured Streaming
      // treats rightOuter as its own join type with its own eviction
      // arm (the RIGHT side's unmatched rows emit null-extended when
      // the global watermark passes their join-window end; the left
      // buffer evicts silently). Same shared two-sided-sentinel
      // fixture and pushdown hazard as the louter/fouter keys — no
      // post-join filters. Oracle: the plain batch RIGHT JOIN;
      // user_id comes from the right side (always present).
      val (l, r) = joinSides(s, dir)
      val joined = l.join(r, joinBand, "rightOuter")
        .select(col("l_id"), col("r_key").as("user_id"), col("r_id"))
      StreamRun.run(s, joined)(identity)
    }),
    "stream_sink_idempotent" -> ((s, dir) => {
      // foreachBatch EXACTLY-ONCE parquet sink: each micro-batch
      // overwrites its OWN batch-id-keyed directory, so replaying a
      // batch (failure recovery re-delivers it with the same id) lands
      // idempotently instead of duplicating — the production pattern
      // for transactional-less sinks. The write here deliberately runs
      // TWICE per batch to simulate the replay; the gate (read-back
      // equals the source table exactly) proves the second delivery
      // added nothing.
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      val outDir = StreamRun.scratch(s, dir,
        s"idemsink_${StreamRun.nextId()}")
      // three staged files (mod-3 split) → with maxFilesPerTrigger=1,
      // THREE real micro-batches with distinct batch ids — so the
      // batch-id-keyed directory contract is actually exercised (a sink
      // that ignored the id and overwrote one directory would lose two
      // batches and fail the row-count gate)
      val staged = StreamRun.stage(s, dir, "idemsrc") {
        val ev = events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"))
        (0 until 3).map(i => ev.filter(col("event_id") % 3 === i))
      }
      val schema = new StructType().add("event_id", LongType)
        .add("user_id", LongType).add("value", DoubleType)
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      val q = src.writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$outDir/batch=$id")
          df.write.mode("overwrite").parquet(s"$outDir/batch=$id") // replay
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir).select("event_id", "user_id", "value")
    }),
    "resample_gapfill" -> ((s, dir) => {
      // time-series resample: daily sums per user with silent days
      // filled as 0.0 across each user's [first, last] day span —
      // sequence + explode calendar, broadcast-friendly left join
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("value"))
      val daily = e.groupBy("user_id", "day")
        .agg(r4(sum(col("value").cast("decimal(8,4)")).cast("double"))
          .as("day_sum"))
      val cal = daily.groupBy("user_id")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      cal.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("day_sum"), lit(0.0)).as("day_sum"))
    }),
    "ts_seasonal_decompose" -> ((s, dir) => {
      // STL-lite seasonal DECOMPOSITION per user: daily revenue →
      // centered 7-day moving-average trend, day-of-week seasonal
      // index over the detrended series, residual — the structure a
      // forecasting/anomaly pipeline strips before modeling
      // (ts_seasonal_dow reports the raw weekly profile; this key
      // separates it from trend). EXACT-RATIONAL design: the trend is
      // carried as the 7-day SUM t7 (exact long — never the /7 mean),
      // the detrended value as d7 = 7·x − t7 (exact), the seasonal
      // numerator as Σd7 per (user, dow) (exact), and the residual
      // numerator as d7·cnt − Σd7 (exact) — each output is then ONE
      // correctly-rounded division onto the r4 grid at dollar
      // magnitude, so no float ever feeds another float. Edge days
      // without a full centered window are NULL (n7 = 7 guard);
      // silent days are zero-filled on the per-user calendar grid
      // (the resample_gapfill construction).
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      val daily = e.groupBy("user_id", "day").agg(sum(col("vc")).as("xc"))
      val cal = daily.groupBy("user_id")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val grid = cal.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("xc"), lit(0L)).as("xc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day").rowsBetween(-3, 3)
      val tr = grid.select(col("user_id"), col("day"), col("xc"),
        count(lit(1)).over(w).as("n7"), sum(col("xc")).over(w).as("t7"))
      val det = tr.select(col("user_id"), col("day"), col("xc"),
        when(col("n7") === 7, col("xc") * 7 - col("t7")).as("d7"),
        when(col("n7") === 7, col("t7")).as("t7v"),
        pmod(col("day"), lit(7)).as("dow"))
      val seas = det.filter(col("d7").isNotNull)
        .groupBy("user_id", "dow")
        .agg(sum(col("d7")).as("sd"), count(lit(1)).as("cd"))
      det.join(seas, Seq("user_id", "dow"), "left")
        .select(col("user_id"), col("day"), col("xc").as("day_cents"),
          r4(col("t7v").cast("double") / lit(700.0)).as("trend"),
          r4(when(col("d7").isNotNull, col("sd").cast("double") /
            (col("cd").cast("double") * lit(700.0)))).as("seasonal"),
          r4(when(col("d7").isNotNull,
            (col("d7") * col("cd") - col("sd")).cast("double") /
              (col("cd").cast("double") * lit(700.0)))).as("residual"))
    }),
    "ts_anomaly_stl" -> ((s, dir) => {
      // STL-style anomaly detection: MAD thresholding on the DETRENDED
      // daily series — the anomaly ts_outlier_mad's raw-value MAD
      // cannot see under trend (a spike on a rising baseline). Shares
      // ts_seasonal_decompose's exact construction through d7 = 7x−t7,
      // then an ALL-INTEGER predicate: D = 2·d7 keeps the per-user
      // median of an EVEN count integral ((a+b)/2 of even ints), and
      // dev2 = 2·|D − med| keeps the MAD integral the same way — so
      // the flag dev2 > 3·mad4 compares exact integer-valued doubles
      // (< 2^53) and no interpolation ever lands off-grid (the §5.1
      // dyadic-median rule, applied twice). Two grouped percentile
      // passes on the one user exchange, the ts_outlier_mad shape.
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      val daily = e.groupBy("user_id", "day").agg(sum(col("vc")).as("xc"))
      val cal = daily.groupBy("user_id")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val grid = cal.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("xc"), lit(0L)).as("xc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day").rowsBetween(-3, 3)
      val tr = grid.select(col("user_id"), col("day"), col("xc"),
        count(lit(1)).over(w).as("n7"), sum(col("xc")).over(w).as("t7"))
      val det = tr.filter(col("n7") === 7)
        .select(col("user_id"), col("day"), col("xc"),
          ((col("xc") * 7 - col("t7")) * 2).as("dd"))
      val med = det.groupBy("user_id")
        .agg(percentile(col("dd"), lit(0.5)).as("med2"))
      val dev = det.join(med, Seq("user_id"))
        .withColumn("dev2", abs(col("dd") - col("med2")) * 2)
      val mad = dev.groupBy("user_id")
        .agg(percentile(col("dev2"), lit(0.5)).as("mad4"))
      dev.join(mad, Seq("user_id"))
        .select(col("user_id"), col("day"), col("xc").as("day_cents"),
          col("dd").as("detrended_scaled"),
          (col("dev2") > col("mad4") * 3 && col("mad4") > 0)
            .as("is_anomaly"))
    }),
    "window_rolling_distinct" -> ((s, dir) => {
      // Trailing 7-day DISTINCT user count at every day — the rolling
      // "unique actives" metric. count(DISTINCT) is not windowable in
      // either engine, so operators/RollingDistinct decomposes it into
      // per-user lag edges + a difference array summed per day + one
      // bucket-domain cumsum: O(rows) work, zero window expansion. The
      // oracle IS the |days| × |user-days| interval join — the rewrite
      // must reproduce it exactly, including zero-activity days whose
      // trailing window still holds earlier users.
      graft.operators.RollingDistinct.trailingDistinct(
        events(s, dir).select(col("user_id"),
          expr("ts div 86400000000000").as("day")),
        idCol = "user_id", bucketCol = "day", w = 7, outCol = "uniq7")
    }),
    "window_rolling_distinct_rule" -> ((s, dir) => {
      // The NAIVE `count(DISTINCT user_id) OVER (ORDER BY day RANGE 6
      // PRECEDING)` form — which stock Spark REJECTS outright
      // (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED) — made legal AND
      // scale-safe by the injected analyzer rule
      // (plans/RollingDistinctRewrite): the rule claims the resolved
      // Window node before CheckAnalysis fires and rewrites it to the
      // difference-array plan of operators/RollingDistinct plus a
      // back-join, so the user-facing declarative form gets the
      // O(rows) plan automatically. The spine union (one null-id row
      // per day in span) makes the per-row naive output collapse to
      // exactly the dedicated key's per-day shape — the oracle is
      // window_rolling_distinct's VERBATIM, so the rule is gated
      // against the same interval-join ground truth. The require()s
      // pin the rewrite: no distinct window aggregate survives to the
      // optimized plan, and the difference-array shape (Generate
      // delta-explode + back-join) is present.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"))
      val span = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"),
          lit(null).cast("long").as("user_id"))
      val input = e.unionByName(span.select("user_id", "day"))
      val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
      val out = input.select(col("day"),
          count_distinct(col("user_id")).over(w).as("uniq7"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rolling_distinct_rule: the distinct window aggregate " +
          "survived — RollingDistinctRewrite did not fire (is " +
          "spark.sql.extensions=graft.GraftExtensions set?)")
      val generates = opt.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      val joins = opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      require(generates.nonEmpty && joins.nonEmpty,
        "window_rolling_distinct_rule: expected the difference-array " +
          "shape (delta Generate + back-join) in the rewritten plan")
      out
    }),
    "window_rolling_distinct_by_rule" -> ((s, dir) => {
      // The GROUPED naive form through the same analyzer rule — one
      // distinct-window aggregate PARTITION BY event_type, exercising
      // RollingDistinctRewrite's partition-key path (null-safe group
      // join, per-group spine) end to end; oracle is
      // window_rolling_distinct_by's VERBATIM interval-join ground
      // truth. Spine rows ride per (event_type, day in group span)
      // with null user_id, collapsing the per-row output to the
      // dedicated key's per-(group, day) shape.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"), col("user_id"),
        expr("ts div 86400000000000").as("day"))
      val span = e.groupBy("event_type")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day"),
          lit(null).cast("long").as("user_id"))
      val input = e.unionByName(span.select("event_type", "user_id", "day"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      val out = input.select(col("event_type"), col("day"),
          count_distinct(col("user_id")).over(w).as("uniq7"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rolling_distinct_by_rule: the distinct window " +
          "aggregate survived — RollingDistinctRewrite did not fire")
      out
    }),
    "window_rolling_sumdistinct_rule" -> ((s, dir) => {
      // SUM(DISTINCT) beside COUNT(DISTINCT) in ONE naive window node —
      // "trailing 7-day sum of distinct transaction amounts", the
      // dedup-then-sum metric (distinct amounts ≈ distinct price
      // points; summing each once values the catalog, not the volume).
      // Stock Spark rejects BOTH expressions
      // (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED); the extended
      // RollingDistinctRewrite claims the node and lowers each to the
      // difference-array frame — the SUM arm emits (±1, ±v) weighted
      // deltas per distinct (amount, day) pair and recovers count AND
      // sum from two bucket-domain running sums, preserving SQL's
      // empty-frame split (COUNT 0, SUM NULL) via the count-gated If.
      // Amounts quantized to integral cents with an EXPLICIT floor
      // (Spark truncates double→int, DuckDB rounds — floor first makes
      // both exact); oracle is the |days| × |amount-days| interval
      // join, sum(DISTINCT) computed by DuckDB's native aggregate.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(
        expr("CAST(floor(value * 100) AS BIGINT)").as("amt"),
        expr("ts div 86400000000000").as("day"))
      val span = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"),
          lit(null).cast("long").as("amt"))
      val input = e.unionByName(span.select("amt", "day"))
      val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
      val out = input.select(col("day"),
          count_distinct(col("amt")).over(w).as("uniq7"),
          sum_distinct(col("amt")).over(w).as("sumd7"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rolling_sumdistinct_rule: a distinct window aggregate " +
          "survived — RollingDistinctRewrite did not fire (is " +
          "spark.sql.extensions=graft.GraftExtensions set?)")
      out
    }),
    "window_rolling_mixed_rule" -> ((s, dir) => {
      // MIXED window node through the rule: `count(DISTINCT user_id)`
      // beside the PLAIN `count(user_id)` over one window spec — the
      // DAU + event-volume pair every activity dashboard computes, and
      // the node shape ExtractWindowExpressions always produces (all
      // compatible window exprs in ONE node, so before the mixed-node
      // arm the plain column POISONED the whole node into stock
      // rejection). The rule splits it: the plain count stays a stock
      // WindowExec riding the probe side; the distinct one lowers to
      // the difference array. count(user_id) (not count(*)) keeps the
      // spine's null-id rows out of the plain count on both engines.
      // PARTITION BY event_type so the surviving stock window is the
      // ordinary partitioned shape (PlanAudit-clean with no allow).
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"), col("user_id"),
        expr("ts div 86400000000000").as("day"))
      val span = e.groupBy("event_type")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day"),
          lit(null).cast("long").as("user_id"))
      val input = e.unionByName(span.select("event_type", "user_id", "day"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      val out = input.select(col("event_type"), col("day"),
          count_distinct(col("user_id")).over(w).as("uniq7"),
          count(col("user_id")).over(w).as("events7"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rolling_mixed_rule: the distinct window aggregate " +
          "survived — the mixed-node arm did not fire")
      val plainWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
      }
      require(plainWindows.nonEmpty,
        "window_rolling_mixed_rule: the PLAIN count must remain a " +
          "stock Window node (the split contract)")
      out
    }),
    "window_running_distinct_rule" -> ((s, dir) => {
      // CUMULATIVE uniques to date — count(DISTINCT) over the DEFAULT
      // frame (`OVER (ORDER BY day)` = RANGE UNBOUNDED PRECEDING),
      // i.e. the most common naive distinct-window form a user writes:
      // the users-acquired curve. The rule's unbounded arm lowers it
      // to the FIRST-OCCURRENCE difference array (each user emits +1
      // at their first day; one bucket-domain running sum is the whole
      // curve) — O(rows), no per-frame distinct state. Spine union
      // collapses the per-row output to one row per day in span.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"))
      val span = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"),
          lit(null).cast("long").as("user_id"))
      val input = e.unionByName(span.select("user_id", "day"))
      val w = Window.orderBy(col("day"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val out = input.select(col("day"),
          count_distinct(col("user_id")).over(w).as("cum_uniq"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_running_distinct_rule: the distinct window aggregate " +
          "survived — RollingDistinctRewrite's unbounded arm did not " +
          "fire")
      out
    }),
    "window_rolling_avgdistinct_rule" -> ((s, dir) => {
      // AVG(DISTINCT) — the rule's THIRD aggregate kind, grouped:
      // "trailing 7-day mean of the distinct price points per event
      // type" (mean over the deduped catalog, not the volume). Stock
      // Spark rejects the shape outright, so the rewrite DEFINES its
      // semantics: exact integer distinct-sum / exact integer
      // distinct-count in ONE correctly-rounded double division —
      // strictly more deterministic than Average's incremental double
      // accumulation, and reproducible verbatim in the oracle's
      // CAST(sum AS DOUBLE)/count form. Empty frames are NULL (the
      // count-gated If); r4 is convention only — the division inputs
      // are bit-identical exact integers in both engines.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("amt"),
        expr("ts div 86400000000000").as("day"))
      val span = e.groupBy("event_type")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day"),
          lit(null).cast("long").as("amt"))
      val input = e.unionByName(span.select("event_type", "amt", "day"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      // (functions has no avg_distinct builder — the parsed form
      // resolves to Average with isDistinct, the same target shape)
      val out = input.select(col("event_type"), col("day"),
          r4(expr("avg(DISTINCT amt)").over(w)).as("avgd7"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rolling_avgdistinct_rule: a distinct window aggregate " +
          "survived — RollingDistinctRewrite did not fire")
      out
    }),
    "window_rolling_distinct_desc_rule" -> ((s, dir) => {
      // DESC order key through the rule (round-14 widening, r13
      // verdict item 4): `count(DISTINCT user_id) OVER (ORDER BY day
      // DESC RANGE 6 PRECEDING)` — "n PRECEDING" in DESC order is a
      // LEADING window, i.e. distinct users over the NEXT 7 days at
      // every day (the forward-exposure metric: how many uniques does
      // a launch day reach in its first week). Stock Spark rejects it
      // like every distinct window shape; the rule NEGATES the bucket
      // domain and rides the identical trailing-ASC difference array
      // (RollingDistinctRewrite.bucketOf), so the leading form costs
      // exactly the trailing form's O(rows). Oracle: the interval join
      // with e.day BETWEEN s.day AND s.day + 6 — the leading twin of
      // window_rolling_distinct's ground truth.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"))
      val span = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"),
          lit(null).cast("long").as("user_id"))
      val input = e.unionByName(span.select("user_id", "day"))
      val w = Window.orderBy(col("day").desc).rangeBetween(-6, 0)
      val out = input.select(col("day"),
          count_distinct(col("user_id")).over(w).as("uniq7f"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rolling_distinct_desc_rule: the DESC distinct window " +
          "aggregate survived — the round-14 widening did not fire")
      out
    }),
    "window_rolling_avgdistinct_desc_rule" -> ((s, dir) => {
      // DESC + GROUPED + AVG + explicit non-default null ordering in
      // one shape: `avg(DISTINCT amt) OVER (PARTITION BY event_type
      // ORDER BY day DESC NULLS FIRST RANGE 6 PRECEDING)` — the
      // leading 7-day mean of distinct price points per event type.
      // DESC NULLS FIRST (not DESC's default NULLS LAST) pins the
      // finite-frame eligibility argument: null order keys are one
      // peer group whose frame is itself under EITHER null ordering,
      // so the rule accepts both (no null days exist in this fixture —
      // the SHAPE acceptance is what's exercised; the property tests
      // cover null buckets). Same exact-sum/exact-count division
      // semantics as the ASC avg key.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("amt"),
        expr("ts div 86400000000000").as("day"))
      val span = e.groupBy("event_type")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day"),
          lit(null).cast("long").as("amt"))
      val input = e.unionByName(span.select("event_type", "amt", "day"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("day").desc_nulls_first).rangeBetween(-6, 0)
      val out = input.select(col("event_type"), col("day"),
          r4(expr("avg(DISTINCT amt)").over(w)).as("avgd7f"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rolling_avgdistinct_desc_rule: the DESC distinct " +
          "window aggregate survived — the round-14 widening did not " +
          "fire")
      out
    }),
    "window_rowsframe_distinct_rule" -> ((s, dir) => {
      // ROWS-frame distinct through the rule (round 15, r14 verdict
      // item 2): count(DISTINCT amt) + sum(DISTINCT amt) OVER
      // (PARTITION BY event_type ORDER BY event_id ROWS 9 PRECEDING) —
      // "distinct price points among the last 10 events per type".
      // The difference array can't serve a POSITIONAL frame, so the
      // rule lowers this to 10 lag taps in ONE WindowExec +
      // array_distinct — exact because event_id is unique (a rows
      // frame over a tied order is ambiguous in ANY engine). Per-row
      // state is the 10 taps, never partition-sized; frames wider
      // than spark.graft.rowsDistinct.maxLag stay stock-rejected.
      // Oracle: DuckDB's NATIVE distinct window aggregate over the
      // identical frame.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"), col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("amt"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("event_id")).rowsBetween(-9, 0)
      val out = e.select(col("event_type"), col("event_id"),
        count_distinct(col("amt")).over(w).as("uniq10"),
        sum_distinct(col("amt")).over(w).as("sumd10"))
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rowsframe_distinct_rule: the rows-frame distinct " +
          "window aggregate survived — the round-15 lag-array arm " +
          "did not fire")
      out
    }),
    "window_running_distinct_nullslast_rule" -> ((s, dir) => {
      // ASC NULLS LAST cumulative distinct through the rule (round 15,
      // r14 verdict item 3 — the r13 negative test flipped positive):
      // events whose day is unknown (nulled here for one user cohort)
      // sort LAST, so their peer frame is the WHOLE partition while
      // every non-null day EXCLUDES them — the exact mirror of the
      // nulls-first sentinel fold. The rule lowers the non-null rows
      // to the plain first-occurrence difference array (no sentinel)
      // and the null peer group to one whole-partition distinct
      // total. Oracle: DuckDB's native distinct window under the
      // identical NULLS LAST frame.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(
        when(col("user_id") % 19 === 0, lit(null).cast("long"))
          .otherwise(expr("ts div 86400000000000")).as("dayn"),
        col("user_id"))
      val w = Window.orderBy(col("dayn").asc_nulls_last)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val out = e.select(col("dayn"),
        count_distinct(col("user_id")).over(w).as("cum_uniq"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_running_distinct_nullslast_rule: the NULLS LAST " +
          "cumulative distinct survived — the round-15 mirror arm " +
          "did not fire")
      out
    }),
    "window_rowsframe_distinct_centered_rule" -> ((s, dir) => {
      // CENTERED rows-frame distinct through the rule (round 15 — the
      // lag/lead generalization): count(DISTINCT amt) + sum(DISTINCT
      // amt) OVER (... ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) —
      // "distinct price points in the 11-event neighborhood", the
      // smoothing-window shape. The lowering spends one lag/lead tap
      // per offset in ONE WindowExec; frames clip at partition edges
      // exactly like the naive frame (taps past an edge are null).
      // Oracle: DuckDB's NATIVE distinct window over the identical
      // centered frame.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"), col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("amt"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("event_id")).rowsBetween(-5, 5)
      val out = e.select(col("event_type"), col("event_id"),
        count_distinct(col("amt")).over(w).as("uniq11"),
        sum_distinct(col("amt")).over(w).as("sumd11"))
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rowsframe_distinct_centered_rule: the centered " +
          "rows-frame distinct survived — the lag/lead arm did not " +
          "fire")
      out
    }),
    "window_running_distinct_desc_rule" -> ((s, dir) => {
      // DESC over the UNBOUNDED frame through the rule (round 15 —
      // flips the last stock-rejected cumulative quadrant): distinct
      // users from each day FORWARD — the remaining-reach curve a
      // retention analysis reads right-to-left. DESC NULLS FIRST with
      // injected null days pins the sentinel quadrant: on the negated
      // bucket axis DESC NULLS FIRST ≡ ASC NULLS FIRST, so the null
      // peer group rides the −∞ sentinel fold (included in every
      // non-null frame, null rows see only themselves — DuckDB's
      // measured native semantics agree). Oracle: DuckDB's native
      // distinct window under the identical frame.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(
        when(col("user_id") % 23 === 0, lit(null).cast("long"))
          .otherwise(expr("ts div 86400000000000")).as("dayn"),
        col("user_id"))
      val w = Window.orderBy(col("dayn").desc_nulls_first)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val out = e.select(col("dayn"),
        count_distinct(col("user_id")).over(w).as("fwd_uniq"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_running_distinct_desc_rule: the DESC cumulative " +
          "distinct survived — the round-15 widening did not fire")
      out
    }),
    "window_rangeframe_distinct_offset_rule" -> ((s, dir) => {
      // STRICTLY-OFFSET range frame through the rule (round 16, r15
      // verdict item 2): count(DISTINCT user_id) + sum(DISTINCT
      // user_id) OVER (PARTITION BY event_type ORDER BY day RANGE
      // BETWEEN 6 PRECEDING AND 2 PRECEDING) — "uniques in the
      // [d−6, d−2] lookback", the blackout-window shape that excludes
      // the most recent days. The difference array answers it as the
      // trailing-5 window JOINED AT THE SHIFTED BUCKET d−2 over a
      // spine widened by the shift — still no per-row frame state, no
      // interval self-join. Oracle: DuckDB's NATIVE distinct window
      // aggregate over the identical frame (incl. its measured
      // null-free empty-frame COUNT-0/SUM-NULL split).
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"),
        expr("ts div 86400000000000").as("day"), col("user_id"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("day")).rangeBetween(-6, -2)
      val out = e.select(col("event_type"), col("day"),
        count_distinct(col("user_id")).over(w).as("uniq_off"),
        sum_distinct(col("user_id")).over(w).as("sumd_off"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rangeframe_distinct_offset_rule: the offset-frame " +
          "distinct survived — the round-16 shifted-bucket arm did " +
          "not fire")
      out
    }),
    "window_running_distinct_offset_rule" -> ((s, dir) => {
      // CUMULATIVE-TO-OFFSET through the rule (round 16): count
      // (DISTINCT user_id) OVER (ORDER BY dayn ASC NULLS LAST RANGE
      // BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) — "uniques ever
      // seen as of two days ago", the settled-data cumulative a
      // reporting pipeline uses when the trailing days are still
      // mutable. The SAME first-occurrence array answers it evaluated
      // at the shifted bucket d−2 (probe joins at the shift over a
      // widened spine); NULLS LAST injected nulls exercise the mirror
      // lowering + shift composition. Oracle: DuckDB's native
      // distinct window over the identical frame (measured: null
      // rows see the whole partition, exactly as with the CURRENT
      // ROW upper).
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(
        when(col("user_id") % 19 === 0, lit(null).cast("long"))
          .otherwise(expr("ts div 86400000000000")).as("dayn"),
        col("user_id"))
      val w = Window.orderBy(col("dayn").asc_nulls_last)
        .rangeBetween(Window.unboundedPreceding, -2)
      val out = e.select(col("dayn"),
        count_distinct(col("user_id")).over(w).as("cum_uniq_off"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_running_distinct_offset_rule: the cumulative-to-" +
          "offset distinct survived — the round-16 shifted-probe arm " +
          "did not fire")
      out
    }),
    "window_rolling_distinct_pair_rule" -> ((s, dir) => {
      // MULTI-ARGUMENT COUNT(DISTINCT a, b) through the rule (round
      // 16): count(DISTINCT user_id, amt) OVER (PARTITION BY
      // event_type ORDER BY day RANGE 6 PRECEDING) — "distinct
      // (user, price-point) pairs in the trailing week". The rule
      // synthesizes a null-guarded struct target (a row with ANY null
      // argument is uncounted — the SQL multi-arg semantics) and the
      // difference array distinct-counts the tuples natively; nulls
      // injected into user_id pin the any-null-skips rule. Oracle:
      // DuckDB's native distinct window over the equivalent
      // null-guarded row-value.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"),
        expr("ts div 86400000000000").as("day"),
        when(col("user_id") % 19 === 0, lit(null).cast("long"))
          .otherwise(col("user_id")).as("uid"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("amt"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("day")).rangeBetween(-6, 0)
      val out = e.select(col("event_type"), col("day"),
        count_distinct(col("uid"), col("amt")).over(w).as("uniq_pairs"))
        .distinct()
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_rolling_distinct_pair_rule: the multi-argument " +
          "distinct survived — the round-16 struct synthesis did not " +
          "fire")
      out
    }),
    "window_running_distinct_expr_rule" -> ((s, dir) => {
      // EXPRESSION distinct target through the rule (round 16, r15
      // verdict item 5): count(DISTINCT ts div 86400000000000) OVER
      // (PARTITION BY event_type ORDER BY event_id) — cumulative
      // "distinct active DAYS seen so far per type, in arrival
      // order", spelled with the day derived INSIDE the aggregate
      // instead of pre-projected (the natural user form). The rule
      // claims any deterministic scalar expression by evaluating it
      // as a projected column below the difference-array frame.
      // Oracle: DuckDB's native distinct window over the identical
      // inline expression.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("event_id"))
      val out = e.select(col("event_type"), col("event_id"),
        count_distinct(expr("ts div 86400000000000")).over(w)
          .as("cum_days"))
      val opt = out.queryExecution.optimizedPlan
      val distinctWindows = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(distinctWindows.isEmpty,
        "window_running_distinct_expr_rule: the expression-target " +
          "distinct survived — the round-16 widening did not fire")
      out
    }),
    "window_rolling_distinct_sparse_rule" -> ((s, dir) => {
      // SPARSE 64-bit order domain through the rule (round 17, r16
      // verdict item 1): count(DISTINCT user_id) OVER (ORDER BY
      // epoch_micros RANGE 1 HOUR-of-µs PRECEDING) — the "uniques in
      // the trailing hour, at event precision" question. The bucket
      // domain is epoch MICROS (span ~3.5e12 at the fixture's 40
      // days), which the dense-spine lowering hard-errored on at the
      // 1e8 span cap; the sparse observed-bucket lowering materializes
      // one spine row per DISTINCT OBSERVED micros instead — cost ∝
      // data, span-independent — so the same declarative form now
      // plans and scales. The frame offset 3.6e9 µs also exceeds
      // Int.MaxValue, exercising the round-17 Long width end to end.
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("tus"))
      val w = Window.orderBy(col("tus"))
        .rangeBetween(-3600L * 1000000L, 0L)
      val out = e.select(col("event_id"),
        count_distinct(col("user_id")).over(w).as("uniq1h"))
      val opt = out.queryExecution.optimizedPlan
      val survivors = opt.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(survivors.isEmpty,
        "window_rolling_distinct_sparse_rule: the sparse-domain " +
          "distinct window survived — the round-17 lowering did not " +
          "fire")
      // the sparse contract itself: NO per-group dense sequence()
      // spine in the plan (the old lowering's signature node)
      val denseSpines = opt.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate
            if g.generator.exists {
              case _: org.apache.spark.sql.catalyst.expressions.Sequence
                  => true
              case _ => false
            } => g
      }
      require(denseSpines.isEmpty,
        "window_rolling_distinct_sparse_rule: found a dense " +
          "sequence() spine — the sparse lowering regressed")
      out
    }),
    "window_rangeframe_distinct_interval_rule" -> ((s, dir) => {
      // INTERVAL-bounded range frame over a TIMESTAMP order key
      // (round 17, r16 verdict item 2): `RANGE BETWEEN INTERVAL '1'
      // DAY PRECEDING AND CURRENT ROW` — the natural pure-SQL spelling
      // of trailing-distinct over event time, stock-rejected for
      // DISTINCT and previously unclaimed (a DayTimeInterval boundary
      // needs a micros bucket domain, infeasible under the dense
      // spine). The timestamp buckets to epoch micros via
      // unix_micros; the interval evaluates to its fixed micros
      // width; the sparse lowering carries the rest. Oracle: DuckDB's
      // native distinct window over the identical interval frame.
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        expr("timestamp_micros(ts div 1000)").as("tts"))
      val out = e.select(col("event_id"),
        expr("""count(DISTINCT user_id) OVER
                 (ORDER BY tts RANGE BETWEEN INTERVAL '1' DAY PRECEDING
                  AND CURRENT ROW)""").as("uniq1d"))
      val survivors = out.queryExecution.optimizedPlan.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(_.exists {
              case ae: org.apache.spark.sql.catalyst.expressions
                  .aggregate.AggregateExpression => ae.isDistinct
              case _ => false
            }) => wn
      }
      require(survivors.isEmpty,
        "window_rangeframe_distinct_interval_rule: the interval-" +
          "bounded distinct window survived — the round-17 " +
          "TIMESTAMP/DayTimeInterval claim did not fire")
      out
    }),
    "window_rolling_distinct_by" -> ((s, dir) => {
      // GROUPED rolling uniques (per event_type — rolling actives per
      // source/domain/tenant): the same difference-array decomposition
      // with group keys riding every stage; the final running sum is
      // GlobalWindow.groupedCumSumsLong, whose range exchange on
      // (group, day) spreads the few hot groups over many partitions
      // instead of a G-task window cap.
      graft.operators.RollingDistinct.groupedTrailingDistinct(
        events(s, dir).select(col("event_type"), col("user_id"),
          expr("ts div 86400000000000").as("day")),
        by = Seq("event_type"), idCol = "user_id", bucketCol = "day",
        w = 7, outCol = "uniq7")
    }),
    "window_rolling_distinct_approx" -> ((s, dir) => {
      // The SKETCH path beside window_rolling_distinct — at 100 TB with
      // huge per-bucket cardinalities, exact difference-array counting
      // still touches every row; the mergeable-HLL form aggregates ONE
      // small sketch per day (map-side partials) and unions 7 sketches
      // per output row. The merge window runs over the BUCKET DOMAIN
      // (30 rows here — days of history, not data), so the orderless
      // single-partition window is bounded by calendar size. Gated on
      // the verdict pattern (agg_approx/decontam_bloom): exact counts +
      // within-tolerance verdicts hash-match the oracle. Output
      // restricted to active days (every fixture day is active).
      val ev = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"))
      val exact = graft.operators.RollingDistinct.trailingDistinct(
        ev, "user_id", "day", w = 7, outCol = "uniq7")
      val daily = ev.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("__sk"))
      val w7 = org.apache.spark.sql.expressions.Window
        .orderBy(col("day")).rangeBetween(-6, 0)
      val est = daily.select(col("day"),
        hll_sketch_estimate(hll_union_agg(col("__sk")).over(w7))
          .as("__est"))
      exact.join(est, Seq("day"))
        .select(col("day"), col("uniq7"),
          (abs(col("__est") - col("uniq7")) <=
            greatest(lit(2.0), col("uniq7") * 0.05)).as("est_ok"))
    }),
    "ts_seasonal_dow" -> ((s, dir) => {
      // Day-of-week seasonal decomposition: per-weekday mean (the
      // seasonal component) and per-event residual. The seasonal means
      // are 7 groups — a 7-partition window would be a G-task straggler
      // at scale, so this is a hash aggregate (map-side partials)
      // broadcast-joined back onto the events. Pure integer dow
      // (epoch-day mod 7), no calendar semantics.
      val e = events(s, dir).select(col("event_id"), col("value"),
        expr("(ts div 86400000000000) % 7").as("dow"))
      val seasonal = e.groupBy("dow")
        .agg(avg(col("value")).as("dow_mean"))
      e.join(broadcast(seasonal), Seq("dow"))
        .select(col("event_id"), col("dow"),
          r4(col("dow_mean")).as("dow_mean"),
          r4(col("value") - col("dow_mean")).as("resid"))
    }),
    "ts_twap" -> ((s, dir) => {
      // Time-weighted average (TWAP) per user over an IRREGULAR series:
      // each observation holds until the next one, so the mean weights
      // value by its holding duration — the standard finance/telemetry
      // aggregate a row-count mean gets wrong on bursty data. Contract:
      // value at 1e-6 resolution (the fixture carries full-precision
      // doubles; floor(v*1e6+0.5) is the identical IEEE op in both
      // engines), durations at ms resolution. Both factors become exact
      // longs, term ≤ 5.6e8·2.6e9 ≈ 1.5e18 < 2^61, so the moment sums
      // ride sum_l128 — order-independent exact integers; per-user
      // division happens once per group in double. One window + one
      // hash agg, both on the user_id exchange. The last observation
      // per user has no close and is excluded (open-interval policy).
      import graft.functions.SumL128.sumL128
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .filter(col("next_ts").isNotNull)
        .select(col("user_id"),
          (floor(col("value") * 1e6 + 0.5).cast("long") *
            floor((col("next_ts") - col("ts")).cast("double") / 1e6)
              .cast("long")).as("term"),
          floor((col("next_ts") - col("ts")).cast("double") / 1e6)
            .cast("long").as("dur_ms"))
        .groupBy("user_id")
        .agg(sumL128(col("term")).as("num"),
          sumL128(col("dur_ms")).as("den"),
          count(lit(1)).as("n_iv"))
        .select(col("user_id"), col("n_iv"),
          r4(when(col("den") > 0,
            col("num").cast("double") /
              (col("den").cast("double") * 1e6))).as("twap"))
    }),
    "ts_burst_detect" -> ((s, dir) => {
      // RATE-SPIKE detection per user — the scrape-burst/abuse monitor
      // a data pipeline runs on ingest volumes: each day's event count
      // against the user's trailing-7-observed-days baseline. The
      // burst predicate is INTEGER-EXACT by construction: flag iff
      // n·m > 2·s ∧ m ≥ 3 (n = today's count, m/s = baseline
      // days/sum) — cross-multiplied so no float ever enters a
      // comparison; base_mean is reported on the r4 grid but decides
      // nothing. One hash agg to daily counts, one (user)-keyed
      // window pass over the day series — both on the same exchange.
      val daily = events(s, dir)
        .groupBy(col("user_id"), expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day").rowsBetween(-7, -1)
      daily.select(col("user_id"), col("day"), col("n_events"),
          count(col("n_events")).over(w).as("base_n"),
          sum(col("n_events")).over(w).as("base_sum"))
        .select(col("user_id"), col("day"), col("n_events"),
          col("base_n"), col("base_sum"),
          r4(when(col("base_n") > 0,
            col("base_sum").cast("double") / col("base_n").cast("double")))
            .as("base_mean"),
          (col("base_n") >= 3 &&
            col("n_events") * col("base_n") > col("base_sum") * 2)
            .as("burst"))
    }),
    "ts_changepoint_cusum" -> ((s, dir) => {
      // CUSUM upward-drift detection per user — the change-point
      // monitor behind data-quality/abuse alerting. The textbook
      // recursion s_i = max(0, s_{i−1} + xᵢ − a) is not windowable,
      // but the max-subarray-ending-here identity makes it
      // declarative:  s_i = r_i − least(0, min_{j≤i} r_j)  where
      // r = running Σ(x − a). Two O(1)/row running window passes
      // (sum, then min over the sum) on ONE (user) exchange — no
      // recursion, no mapPartitions, no state. INTEGER-EXACT end to
      // end: x in cents via the floor(v·100+0.5) replay form, the
      // allowance a = corpus mean + 1 cent by exact integer division
      // (1-row broadcast, the unigram-tot pattern), cusum is an exact
      // long and the drift flag a pure integer comparison — no float
      // anywhere, so the hash gate needs no rounding contract at all.
      // Overflow: |r| grows ≤ ~5.6e6/row — int64-safe to ~1.6e12
      // rows per user.
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        col("ts"), floor(col("value") * 100 + 0.5).cast("long").as("xc"))
      val g = e.agg((expr("sum(xc) div count(1)") + 1L).as("a"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val r = e.crossJoin(broadcast(g))
        .select(col("event_id"), col("user_id"), col("ts"), col("a"),
          sum(col("xc") - col("a")).over(w).as("r"))
      val c = r.select(col("event_id"), col("a"),
        (col("r") - least(lit(0L), min(col("r")).over(w))).as("cusum"))
      c.select(col("event_id"), col("cusum"),
        (col("cusum") > col("a") * 20).as("is_drift"))
    }),
    "ts_resample_ohlc" -> ((s, dir) => {
      // OHLC bar downsampling per (user, day) — the finance/telemetry
      // resample a plain groupBy can't express: open/close are the
      // first/last observation in (ts, event_id) order, high/low the
      // extrema, volume the bar count. Implementation avoids min_by/
      // arg_min entirely (their multi-key tie semantics differ across
      // engines): one window pass flags the bar's first and last rows
      // on the (user, day) exchange, then ONE map-side-combining hash
      // agg folds flags and extrema. Values pass through exactly — no
      // float arithmetic at all, so the only determinism contract is
      // the unique order key.
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"),
        col("ts"), col("event_id"), col("value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "day")
      val asc = w.orderBy(col("ts"), col("event_id"))
      val desc = w.orderBy(col("ts").desc, col("event_id").desc)
      e.select(col("user_id"), col("day"), col("value"),
          row_number().over(asc).as("ra"),
          row_number().over(desc).as("rd"))
        .groupBy("user_id", "day")
        .agg(max(when(col("ra") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rd") === 1, col("value"))).as("close"),
          count(lit(1)).as("volume"))
    }),
    "cohort_retention" -> ((s, dir) => {
      // Cohort retention matrix: users grouped by first-active day,
      // counted per day-offset of later activity — the standard
      // product-analytics rollup. Scale shape: events collapse to
      // DISTINCT (user, day) FIRST (the big reduction), cohort day is
      // a hash agg over that, and the join back is user_id-partitioned
      // like everything before it — one key's worth of exchanges, no
      // window over raw events. (user, day) distinct × unique cohort
      // per user makes count(*) == count(DISTINCT user): no distinct
      // agg needed in the final rollup.
      val a = events(s, dir)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .distinct()
      val coh = a.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      a.join(coh, Seq("user_id"))
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("offset_d"))
        .agg(count(lit(1)).as("n_users"))
    }),
    "ts_pct_change" -> ((s, dir) => {
      // Period-over-period growth — the reporting primitive: daily
      // revenue with absolute and percent change vs the previous
      // PRESENT day (gaps skip, the lag is positional). One hash agg
      // + one lag window over the day axis; revenue sums are exact
      // cent longs so the delta is exact and the ratio is one
      // identical IEEE division per row in both engines.
      val o = QueryUtil.t(s, dir, "orders").select(
        expr("CAST(o_orderdate AS DATE)").as("d"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("pc"))
      val daily = o.groupBy("d").agg(sum(col("pc")).as("rev_c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      // the day axis is |days|-bounded (~2.5k rows at any sf), so the
      // single-partition lag window is a bounded-domain sweep, not a
      // scale hazard (the PlanAudit global_window rule's documented
      // exception)
      daily
        .withColumn("prev_c", lag(col("rev_c"), 1).over(w))
        .select(col("d").cast("string").as("day"), col("rev_c"),
          (col("rev_c") - col("prev_c")).as("delta_c"),
          r4(when(col("prev_c") > 0,
            (col("rev_c") - col("prev_c")).cast("double") /
              col("prev_c").cast("double") * 100.0)).as("pct_change"))
    }),
    "ts_xcorr_lagged" -> ((s, dir) => {
      // Lagged CROSS-correlation between two event streams — "do
      // clicks follow views, and by how many days?": Pearson corr of
      // (view count on day t, click count on day t+lag) for lag in
      // −3..+3, the lead-lag diagnostic beside ts_autocorr's self
      // version. Shape: one (day, type)-partitioned hash agg builds
      // the two DAILY series, the calendar grid (min..max day, zeros
      // filled) makes every lag well-defined, and the lag alignment is
      // an EQUI-JOIN on day+lag — never a global unpartitioned window:
      // the 7-lag expansion is a ROW-LOCAL explode of a literal
      // sequence (no join, no broadcast — the audit-clean form), and
      // the per-lag moment sums are one more hash agg keyed by lag.
      // The series length is calendar-bounded, the raw scan is the
      // only corpus-sized stage. EXACTNESS: counts are exact longs;
      // sum_l128 accumulators (Σxy over day counts can top int64 at
      // deployment rates), the n·Σxy−ΣxΣy cancellation in exact
      // decimal (mirrors DuckDB's HUGEINT sums), one closed-form
      // double assembly — ts_autocorr's recipe at the series level.
      import graft.functions.SumL128.sumL128
      val day = expr("ts div 86400000000000").as("day")
      val daily = events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .select(day, col("event_type"))
        .groupBy("day", "event_type").agg(count(lit(1)).as("c"))
      val xs = daily.filter(col("event_type") === "view")
        .select(col("day"), col("c").as("x"))
      val ys = daily.filter(col("event_type") === "click")
        .select(col("day").as("yday"), col("c").as("y"))
      val span = events(s, dir)
        .select(expr("ts div 86400000000000").as("d"))
        .agg(min("d").as("lo"), max("d").as("hi"))
      val grid = span.select(
        explode(sequence(col("lo"), col("hi"))).as("day"))
      val gx = grid.join(xs, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
      val gy = grid.select(col("day").as("yday")).join(ys, Seq("yday"), "left")
        .select(col("yday"), coalesce(col("y"), lit(0L)).as("y"))
      val pairs = gx
        .select(col("day"), col("x"),
          explode(sequence(lit(-3L), lit(3L))).as("lag"))
        .select(col("lag"), col("x"), (col("day") + col("lag")).as("yday"))
        .join(gy, Seq("yday"))
      val g = pairs.groupBy("lag").agg(
        count(lit(1)).as("n"),
        sumL128(col("x")).as("sx"),
        sumL128(col("y")).as("sy"),
        sumL128(col("x") * col("y")).as("sxy"),
        sumL128(col("x") * col("x")).as("sxx"),
        sumL128(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("decimal(10,0)")
      val cxy = nD * col("sxy") - col("sx") * col("sy")
      val m2x = nD * col("sxx") - col("sx") * col("sx")
      val m2y = nD * col("syy") - col("sy") * col("sy")
      g.select(col("lag"), col("n"),
        r4(when(col("n") >= 2 && m2x > 0 && m2y > 0,
          cxy.cast("double") /
            sqrt(m2x.cast("double") * m2y.cast("double"))))
          .as("xcorr"))
    }),
    "ts_autocorr" -> ((s, dir) => {
      // Lag-1 autocorrelation per user — the seasonality/persistence
      // statistic beside ts_seasonal_dow: Pearson corr of (xₜ₋₁, xₜ)
      // over the per-user time order. One lag window + one hash agg on
      // the same user exchange. EXACTNESS is agg_moments' recipe at
      // the pair level: micro-unit longs, five sum_l128 accumulators
      // (order-independent, exact to 2^123 — Σx² per user can top
      // int64 at scale), the cancellation n·Σxy−ΣxΣy in exact decimal
      // (DuckDB's HUGEINT sums mirror it exactly), and one identical
      // closed-form double assembly on both sides.
      import graft.functions.SumL128.sumL128
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir).select(col("user_id"), col("ts"),
          col("event_id"), floor(col("value") * 1e4 + 0.5).cast("long")
            .as("y"))
        .withColumn("x", lag(col("y"), 1).over(w))
        .filter(col("x").isNotNull)
      val g = pairs.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sumL128(col("x")).as("sx"),
        sumL128(col("y")).as("sy"),
        sumL128(col("x") * col("y")).as("sxy"),
        sumL128(col("x") * col("x")).as("sxx"),
        sumL128(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("decimal(10,0)")
      val cxy = nD * col("sxy") - col("sx") * col("sy")
      val m2x = nD * col("sxx") - col("sx") * col("sx")
      val m2y = nD * col("syy") - col("sy") * col("sy")
      g.select(col("user_id"), col("n"),
        r4(when(col("n") >= 2 && m2x > 0 && m2y > 0,
          cxy.cast("double") /
            sqrt(m2x.cast("double") * m2y.cast("double"))))
          .as("autocorr"))
    }),
    "ts_interval_active" -> ((s, dir) => {
      // Interval CONCURRENCY — how many orders are open (placed but
      // not fully shipped) on each order's placement day: the classic
      // +1/−1 boundary sweep, rendered scalably. Boundaries collapse
      // to ONE delta per day first (also what makes same-day
      // concurrency well-defined: everything starting on d counts for
      // everything else on d), then the GLOBAL running sum over the
      // unique day axis rides GlobalWindow's segmented scan —
      // never a single-partition window over the whole time axis. End
      // day is the order's last ship date, inclusive (−1 lands on
      // e+1). At 100 TB the sweep costs one hash agg over |days| +
      // the GlobalWindow machinery — independent of interval width.
      val li = QueryUtil.t(s, dir, "lineitem")
        .select(col("l_orderkey"), expr(
          "CAST(l_shipdate AS DATE)").as("sd"))
        .groupBy("l_orderkey")
        .agg(max(col("sd")).as("e_day"))
      val o = QueryUtil.t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("s_day"))
      // materialize the interval table once (the tradeGraph/cdc_apply
      // precedent): it feeds both sweep branches AND the final join —
      // without truncation the orders⋈lineitem derivation re-executes
      // three times
      val iv = o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select(col("o_orderkey"),
          datediff(col("s_day"), lit("1970-01-01")).as("s"),
          datediff(col("e_day"), lit("1970-01-01")).as("e"))
        .localCheckpoint()
      val pts = iv.select(col("s").as("day"), lit(1L).as("delta"))
        .unionByName(iv.select((col("e") + 1).as("day"),
          lit(-1L).as("delta")))
      val dayDeltas = pts.groupBy("day")
        .agg(sum(col("delta")).as("d_sum"))
      val active = graft.operators.GlobalWindow.cumSum(dayDeltas,
        Seq(col("day")), "d_sum", "active")
      iv.join(active.select(col("day").as("s"), col("active")), Seq("s"))
        .select(col("o_orderkey"), col("active").cast("long").as("n_open"))
    }),
    "ts_outlier_mad" -> ((s, dir) => {
      // Robust outlier detection via Median Absolute Deviation — the
      // zscore key's resistant sibling (median/MAD shrug off the very
      // outliers that inflate mean/stddev). Two grouped exact-median
      // passes + one join, all on the user exchange. EXACTNESS TRICK:
      // a median of integers interpolates to x.5 at even counts, so
      // every median is computed on DOUBLED units — median(2·v4) and
      // median(2·dev8) are integer-valued doubles, bit-identical in
      // both engines (the dyadic-midpoint argument of
      // window_rolling_median), and the flag threshold 2.25 (dev8 >
      // 2.25·mad16, i.e. dev > 4.5·MAD ≈ 3σ-equivalent) is a dyadic
      // constant so both engines compare identical doubles.
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        floor(col("value") * 1e4 + 0.5).cast("long").as("v4"))
      val med = e.groupBy("user_id")
        .agg(percentile(col("v4") * 2, lit(0.5)).as("med8"))
      val d = e.join(med, Seq("user_id"))
        .withColumn("dev8", abs(col("v4") * 2 - col("med8")))
      val mad = d.groupBy("user_id")
        .agg(percentile(col("dev8") * 2, lit(0.5)).as("mad16"))
      d.join(mad, Seq("user_id"))
        .select(col("event_id"),
          r4(col("med8") / 2 / 1e4).as("med_v"),
          r4(col("mad16") / 4 / 1e4).as("mad_v"),
          (col("dev8") > lit(2.25) * col("mad16")).as("is_outlier"))
    }),
    "ts_interpolate" -> ((s, dir) => {
      // Linear interpolation over the per-user daily grid — the gap
      // policy between resample_gapfill's zero-fill and window_locf's
      // carry-forward: a missing day gets the straight line between
      // the surrounding observed days. Scale shape: the grid is
      // sequence(lo, hi) exploded per user (row-local, no driver
      // state); the surrounding observations come from TWO running
      // last(ignoreNulls) windows (asc + desc) sharing one user_id
      // exchange — the as-of sweep trick, never an UnboundedFollowing
      // frame (which re-aggregates the partition suffix per row).
      // DETERMINISM: daily means are exact long micro-unit sums
      // divided once (identical IEEE chain in both engines); the
      // interpolation expression shape is mirrored verbatim in the
      // oracle, so identical inputs → identical doubles. Grid
      // endpoints are observed by construction (lo/hi = min/max
      // observed day), so every gap row has both neighbors.
      // Round-12 sf1 decomposition (the 3.6× SF1PROBE ratio): every
      // stage scales linearly (daily agg / grid / join / windows each
      // ≤ 10× at 10× data); the ratio is fixed overhead over a tiny
      // sf0.1 base (~0.25 s constants / ~0.1 s data work). `daily` is
      // referenced twice, but the agg exchange is REUSED across the
      // branches — a checkpoint variant measured slower at sf1
      // (README §scaling table).
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"),
        floor(col("value") * 1e6 + 0.5).cast("long").as("vmu"))
      val daily = e.groupBy("user_id", "day")
        .agg(sum("vmu").as("sv"), count(lit(1)).as("n"))
        .select(col("user_id"), col("day"),
          (col("sv").cast("double") / col("n").cast("double") / 1e6)
            .as("dm"))
      val grid = daily.groupBy("user_id")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val j = grid.join(daily, Seq("user_id", "day"), "left")
      // day+value travel as ONE struct so both always come from the
      // same observation (the AsofJoin payload rule).
      val obsP = when(col("dm").isNotNull,
        struct(col("day").as("d"), col("dm").as("v")))
      def wRun(ord: Column) = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(ord)
        .rowsBetween(Long.MinValue, 0)
      j.withColumn("p", last(obsP, ignoreNulls = true).over(wRun(col("day").asc)))
        .withColumn("nx", last(obsP, ignoreNulls = true).over(wRun(col("day").desc)))
        .select(col("user_id"), col("day"), col("dm").isNotNull.as("obs"),
          r4(when(col("dm").isNotNull, col("dm")).otherwise(
            col("p.v") + (col("nx.v") - col("p.v")) *
              ((col("day") - col("p.d")).cast("double") /
                (col("nx.d") - col("p.d")).cast("double")))).as("v_fill"))
    }),
    "funnel_steps" -> ((s, dir) => {
      // Ordered funnel (view → click → purchase) per user: each stage
      // is the MIN event time strictly after the previous stage —
      // three conditional hash aggs chained by user_id-partitioned
      // joins (every stage reuses the same key exchange; no per-user
      // sort, no window over raw events). Users without a view are
      // not in the funnel; step = furthest stage reached.
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min(col("ts")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          expr("t_view div 1000000").as("t_view_ms"),
          expr("t_click div 1000000").as("t_click_ms"),
          expr("t_purchase div 1000000").as("t_purchase_ms"),
          when(col("t_purchase").isNotNull, 3L)
            .when(col("t_click").isNotNull, 2L).otherwise(1L).as("step"))
    }),
    "funnel_window_gap" -> ((s, dir) => {
      // Funnel with a CONVERSION-WINDOW constraint — the form product
      // analytics actually ships ("click within 6h of view, purchase
      // within 6h of click"): each stage is the MIN event time
      // strictly after the previous stage AND within the gap, so a
      // too-late event doesn't convert (greedy first-qualifying-event
      // semantics — deterministic, no backtracking: the canonical
      // windowed-funnel definition). Identical chained
      // conditional-aggregate plan to funnel_steps — the window
      // constraint is ONE extra predicate per stage filter, zero new
      // shuffles; every stage reuses the user_id key exchange. Gap
      // durations surfaced in ms for the time-to-convert histogram.
      windowedFunnel(events(s, dir).select(col("user_id"),
        col("event_type"), col("ts")),
        gapNs = 6L * 3600L * 1000000000L) // 6 hours in epoch-nanos
    })
  )

  /** The conversion-window funnel over an arbitrary `(user_id,
    * event_type, ts[ns])` frame — factored from `funnel_window_gap`
    * (round-14) so OperatorPropertySpec can pit the chained
    * conditional-aggregate plan against a direct per-user fold: the
    * greedy first-qualifying semantics ("too-late click ⇒ no
    * conversion, even if a later in-window purchase exists") was
    * previously pinned only by the DuckDB oracle, not the unit layer. */
  private[graft] def windowedFunnel(e: org.apache.spark.sql.DataFrame,
      gapNs: Long): org.apache.spark.sql.DataFrame = {
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t_view") &&
        col("ts") <= col("t_view") + gapNs)
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t_click") &&
        col("ts") <= col("t_click") + gapNs)
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        expr("t_view div 1000000").as("t_view_ms"),
        expr("(t_click - t_view) div 1000000").as("view_to_click_ms"),
        expr("(t_purchase - t_click) div 1000000")
          .as("click_to_purchase_ms"),
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L).otherwise(1L).as("step"))
  }

  // Streaming-key oracles scale doubles with floor(value*10000 + 0.5)
  // — the literal IEEE op sequence StreamingOps.scaledE4 now shares
  // (multiply, +0.5, floor; NOT DuckDB round(), which is half-away-
  // from-zero, and NOT Math.round, which special-cases near-tie
  // doubles) — StreamingSpec pins the helper against this exact form;
  // v4 is also the rows-frame SORT tiebreak, so a tie-grid divergence
  // would shift both the sum and the order.
  val oracleSql: Map[String, String] = Map(
    // the Q30 weight literals are EwmaQWeights verbatim; lag over the
    // same (ts_ms, v4) total order the stream releases in — exact
    // integer dot, no float dimension
    "stream_ewma_stateful" -> {
      val terms = EwmaQWeights.zipWithIndex.map { case (wq, j) =>
        s"COALESCE(lag(v4, $j) OVER w, 0) * $wq" }.mkString(" + ")
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms, CAST($terms AS BIGINT) AS ewma_q30
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, v4)"""
    },
    "window_stream_running" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms,
           count(*) OVER w AS cum_n,
           CAST(sum(v4) OVER w AS BIGINT) AS cum_sum_e4
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    // same oracle as the in-order key: the delayed path must land on
    // the identical batch semantics under shuffled arrival
    "window_stream_rows_ooo" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms,
           count(*) OVER w AS win_n,
           CAST(sum(v4) OVER w AS BIGINT) AS win_sum_e4
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, v4
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
    "window_stream_running_lookahead" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms,
           count(*) OVER w AS cum_n,
           CAST(sum(v4) OVER w AS BIGINT) AS cum_sum_e4
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1800000 FOLLOWING)""",
    "window_stream_running_ooo" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms,
           count(*) OVER w AS cum_n,
           CAST(sum(v4) OVER w AS BIGINT) AS cum_sum_e4
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    // DuckDB's NATIVE ASOF LEFT JOIN is the oracle; the right side is
    // pre-aggregated to per-(key, ts) max (the operator's quote tie
    // rule), and the side split replays the engine-stable 60-bit
    // md5 hash of 'key:ts'
    "join_stream_asof" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events),
         t AS (SELECT user_id, ts_ms, v4,
           (CAST(concat('0x', substr(md5(concat(user_id, ':', ts_ms)),
              1, 15)) AS BIGINT) % 4 = 0) AS is_quote
         FROM e),
         q AS (SELECT user_id, ts_ms, max(v4) AS q4
               FROM t WHERE is_quote GROUP BY 1, 2),
         l AS (SELECT user_id, ts_ms, v4 FROM t WHERE NOT is_quote)
         SELECT l.user_id, l.ts_ms, l.v4 AS value_e4, q.q4 AS quote_e4
         FROM l ASOF LEFT JOIN q
           ON l.user_id = q.user_id AND l.ts_ms >= q.ts_ms""",
    // the batch running-min CUSUM identity (ts_changepoint_cusum's,
    // at E4 scale with fixed allowance/threshold) — the stream's
    // watermark-ordered release must reproduce it exactly
    "stream_cusum_stateful" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events),
         r AS (SELECT user_id, ts_ms,
           CAST(sum(v4 - 750000) OVER w AS BIGINT) AS r
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         m AS (SELECT user_id, ts_ms, r,
           least(CAST(0 AS BIGINT), min(r) OVER w2) AS mn
         FROM r
         WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT user_id, ts_ms, r - mn AS cusum_e4,
                (r - mn) > 2000000 AS is_drift
         FROM m""",
    // the batch range frame WITH a following endpoint — the streaming
    // side must reproduce it exactly under shuffled arrival
    "window_stream_lookahead" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms,
           count(*) OVER w AS win_n,
           CAST(sum(v4) OVER w AS BIGINT) AS win_sum_e4
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN 3600000 PRECEDING AND 1800000 FOLLOWING)""",
    // identical to window_stream_trailing BY DESIGN: watermark-delayed
    // emission under shuffled arrival must reproduce the batch range
    // frame row-for-row
    "window_stream_trailing_ooo" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms,
           count(*) OVER w AS win_n,
           CAST(sum(v4) OVER w AS BIGINT) AS win_sum_e4
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)""",
    "window_stream_rows" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms,
           count(*) OVER w AS win_n,
           CAST(sum(v4) OVER w AS BIGINT) AS win_sum_e4
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, v4
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
    // every real (user, window) group closes under the topk fixture's
    // tailMs margin, so the oracle is the plain batch ranking; ties
    // break on (cnt desc, value asc) — a total order
    // every real (user, window) group closes under the topk fixture's
    // tailMs margin; integer ceil-rank indices on both engines — the
    // discrete-quantile definition shared with quantileWDelayed
    "stream_quantile_stateful" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events),
         w AS (SELECT user_id,
           (ts_ms // 14400000) * 14400000 AS win_start_ms, v4 FROM e),
         r AS (SELECT user_id, win_start_ms, v4,
           row_number() OVER (PARTITION BY user_id, win_start_ms
             ORDER BY v4) AS rn,
           count(*) OVER (PARTITION BY user_id, win_start_ms) AS n
           FROM w)
         SELECT user_id, win_start_ms, max(n) AS n,
           max(CASE WHEN rn = (n + 1) // 2 THEN v4 END) AS p50_e4,
           max(CASE WHEN rn = (95 * n + 99) // 100 THEN v4 END) AS p95_e4
         FROM r GROUP BY 1, 2""",
    "stream_topk_stateful" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events),
         w AS (SELECT user_id,
           (ts_ms // 14400000) * 14400000 AS win_start_ms,
           v4, count(*) AS cnt
           FROM e GROUP BY 1, 2, 3),
         r AS (SELECT user_id, win_start_ms, v4, cnt,
           row_number() OVER (PARTITION BY user_id, win_start_ms
             ORDER BY cnt DESC, v4) AS rank FROM w)
         SELECT user_id, win_start_ms, rank, v4 AS value_e4, cnt
         FROM r WHERE rank <= 3""",
    "window_stream_trailing" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4 FROM events)
         SELECT user_id, ts_ms,
           count(*) OVER w AS win_n,
           CAST(sum(v4) OVER w AS BIGINT) AS win_sum_e4
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)""",
    "window_tumbling_day" ->
      """SELECT user_id,
         epoch_ns(ts) // 86400000000000 AS day,
         count(*) AS n,
         round(1e-9 + CAST(sum(CAST(value AS DECIMAL(8,4))) AS DOUBLE), 4)
           AS sum_v
         FROM events GROUP BY 1, 2""",
    "window_sliding_week" ->
      """WITH e AS (SELECT user_id, value,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         x AS (SELECT user_id, value,
           unnest(generate_series(day - 6, day)) AS win_start_day FROM e)
         SELECT user_id, win_start_day,
           count(*) AS n, round(1e-9 + avg(value), 4) AS avg_v
         FROM x GROUP BY 1, 2""",
    "window_session_native" ->
      """WITH e AS (SELECT user_id, value,
           epoch_ns(ts) // 1000 AS tus FROM events),
         g AS (SELECT user_id, value, tus,
           CASE WHEN lag(tus) OVER w IS NULL
                  OR tus - lag(tus) OVER w > 1800000000
                THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
         sess AS (SELECT user_id, value, tus,
           sum(brk) OVER (PARTITION BY user_id ORDER BY tus
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id, min(tus) AS sess_start_us,
           count(*) AS n,
           round(1e-9 + CAST(sum(CAST(value AS DECIMAL(8,4))) AS DOUBLE), 4)
             AS sum_v
         FROM sess GROUP BY user_id, sid""",
    "window_stream_tumbling" ->
      """SELECT user_id,
         epoch_ns(ts) // 86400000000000 AS day,
         count(*) AS n,
         round(1e-9 + CAST(sum(CAST(value AS DECIMAL(8,4))) AS DOUBLE), 4)
           AS sum_v
         FROM events GROUP BY 1, 2""",
    "window_stream_sliding" ->
      """WITH e AS (SELECT user_id, value,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         x AS (SELECT user_id, value,
           unnest(generate_series(day - 6, day)) AS win_start_day FROM e)
         SELECT user_id, win_start_day,
           count(*) AS n, round(1e-9 + avg(value), 4) AS avg_v
         FROM x GROUP BY 1, 2""",
    "dedup_stream_exact" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "sessionize_stream_stateful" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms, value
           FROM events),
         g AS (SELECT user_id, ms, value,
           CASE WHEN lag(ms) OVER w IS NULL
                  OR ms - lag(ms) OVER w > 1800000
                THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, value)),
         sess AS (SELECT user_id, ms, value,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ms, value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id, min(ms) AS sess_start_ms, max(ms) AS sess_end_ms,
           count(*) AS n, round(1e-9 + sum(value), 4) AS sum_v
         FROM sess GROUP BY user_id, sid""",
    // the batch gap sweep with a 30-day gap and EXACT v4 sums — the
    // delayed sessionizer must land on this under OOO arrival (tie
    // order inside a session is irrelevant to start/end/n/sum once the
    // sum is associative-integer)
    "sessionize_stream_delayed" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
           FROM events),
         g AS (SELECT user_id, ms, v4,
           CASE WHEN lag(ms) OVER w IS NULL
                  OR ms - lag(ms) OVER w > 2592000000
                THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, v4)),
         sess AS (SELECT user_id, ms, v4,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ms, v4
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id, min(ms) AS sess_start_ms, max(ms) AS sess_end_ms,
           count(*) AS n, CAST(sum(v4) AS BIGINT) AS sum_e4
         FROM sess GROUP BY user_id, sid""",
    "join_stream_static" ->
      """WITH dim AS (SELECT user_id,
           round(1e-9 + avg(value), 4) AS user_mean
           FROM events GROUP BY 1)
         SELECT e.event_id, e.user_id, dim.user_mean,
           round(1e-9 + (e.value - dim.user_mean), 4) AS delta
         FROM events e JOIN dim USING (user_id)""",
    // same recomputed SCD2 history (the scd2_intervals CTE), same
    // deterministic key/date mapping, same as-at range LEFT join
    "join_stream_scd2" ->
      """WITH w AS (SELECT o_custkey, o_orderkey, o_orderdate,
             o_orderstatus,
           lag(o_orderstatus) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
         c AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
           FROM w WHERE prev IS NULL OR prev <> o_orderstatus),
         dim AS MATERIALIZED (SELECT
           CAST(o_custkey AS BIGINT) AS dck,
           o_orderstatus AS status,
           CAST(o_orderdate AS DATE) AS vf,
           CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS DATE) AS vt
           FROM c),
         ev AS (SELECT event_id,
           CAST(user_id % 1500 + 1 AS BIGINT) AS ck,
           DATE '1992-01-01'
             + CAST((epoch_ns(ts) // 86400000000000) % 2500 AS INT) AS d
           FROM events)
         SELECT ev.event_id, ev.ck, CAST(ev.d AS VARCHAR) AS event_day,
           dim.status
         FROM ev LEFT JOIN dim ON dim.dck = ev.ck AND ev.d >= dim.vf
           AND (dim.vt IS NULL OR ev.d < dim.vt)""",
    "join_stream_stream" ->
      """WITH e AS (SELECT event_id, user_id,
           epoch_ns(ts) // 1000 AS tus FROM events)
         SELECT a.event_id AS l_id, a.user_id, b.event_id AS r_id
         FROM e a JOIN e b ON a.user_id = b.user_id
           AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
           AND b.tus BETWEEN a.tus - 3600000000
                         AND a.tus + 3600000000""",
    // ms (not µs) range: the staged join fixture truncates ts to
    // milliseconds before the stream sees it
    "join_stream_stream_louter" ->
      """WITH e AS (SELECT event_id, user_id,
           epoch_ns(ts) // 1000000 AS ms FROM events),
         l AS (SELECT event_id AS l_id, user_id, ms FROM e
           WHERE event_id % 4 = 0),
         r AS (SELECT event_id AS r_id, user_id AS r_uid, ms AS rms
           FROM e WHERE event_id % 4 = 1)
         SELECT l.l_id, l.user_id, r.r_id
         FROM l LEFT JOIN r ON l.user_id = r.r_uid
           AND r.rms BETWEEN l.ms - 3600000 AND l.ms + 3600000""",
    "join_stream_stream_fouter" ->
      """WITH e AS (SELECT event_id, user_id,
           epoch_ns(ts) // 1000000 AS ms FROM events),
         l AS (SELECT event_id AS l_id, user_id, ms FROM e
           WHERE event_id % 4 = 0),
         r AS (SELECT event_id AS r_id, user_id AS r_uid, ms AS rms
           FROM e WHERE event_id % 4 = 1)
         SELECT l.l_id, COALESCE(l.user_id, r.r_uid) AS user_id, r.r_id
         FROM l FULL JOIN r ON l.user_id = r.r_uid
           AND r.rms BETWEEN l.ms - 3600000 AND l.ms + 3600000""",
    "join_stream_stream_router" ->
      """WITH e AS (SELECT event_id, user_id,
           epoch_ns(ts) // 1000000 AS ms FROM events),
         l AS (SELECT event_id AS l_id, user_id, ms FROM e
           WHERE event_id % 4 = 0),
         r AS (SELECT event_id AS r_id, user_id AS r_uid, ms AS rms
           FROM e WHERE event_id % 4 = 1)
         SELECT l.l_id, r.r_uid AS user_id, r.r_id
         FROM l RIGHT JOIN r ON l.user_id = r.r_uid
           AND r.rms BETWEEN l.ms - 3600000 AND l.ms + 3600000""",
    "stream_sink_idempotent" ->
      "SELECT event_id, user_id, value FROM events",
    "resample_gapfill" ->
      """WITH e AS (SELECT user_id,
           epoch_ns(ts) // 86400000000000 AS day, value FROM events),
         d AS (SELECT user_id, day,
           round(1e-9 + CAST(sum(CAST(value AS DECIMAL(8,4))) AS DOUBLE), 4)
             AS day_sum
           FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
           FROM d GROUP BY 1),
         cal AS (SELECT user_id,
           unnest(generate_series(lo, hi)) AS day FROM span)
         SELECT cal.user_id, cal.day,
           coalesce(d.day_sum, 0.0) AS day_sum
         FROM cal LEFT JOIN d ON cal.user_id = d.user_id
           AND cal.day = d.day""",
    // the dyadic-median rule applied twice: D = 2·d7 and dev2 =
    // 2·|D − med| keep every even-count midpoint integral, so the
    // anomaly predicate compares exact integer-valued doubles
    "ts_anomaly_stl" ->
      """WITH e AS (SELECT user_id,
           epoch_ns(ts) // 86400000000000 AS day,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
         d AS (SELECT user_id, day, CAST(sum(vc) AS BIGINT) AS xc
           FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
           FROM d GROUP BY 1),
         cal AS (SELECT user_id,
           unnest(generate_series(lo, hi)) AS day FROM span),
         grid AS (SELECT cal.user_id, cal.day,
           coalesce(d.xc, CAST(0 AS BIGINT)) AS xc
           FROM cal LEFT JOIN d ON cal.user_id = d.user_id
             AND cal.day = d.day),
         tr AS (SELECT user_id, day, xc,
           count(*) OVER w AS n7, CAST(sum(xc) OVER w AS BIGINT) AS t7
           FROM grid WINDOW w AS (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         det AS (SELECT user_id, day, xc, (xc * 7 - t7) * 2 AS dd
           FROM tr WHERE n7 = 7),
         med AS (SELECT user_id, quantile_cont(dd, 0.5) AS med2
           FROM det GROUP BY 1),
         dev AS (SELECT det.*, abs(det.dd - med.med2) * 2 AS dev2
           FROM det JOIN med USING (user_id)),
         mad AS (SELECT user_id, quantile_cont(dev2, 0.5) AS mad4
           FROM dev GROUP BY 1)
         SELECT dev.user_id, dev.day, dev.xc AS day_cents,
           dev.dd AS detrended_scaled,
           (dev.dev2 > mad.mad4 * 3 AND mad.mad4 > 0) AS is_anomaly
         FROM dev JOIN mad USING (user_id)""",
    // every output is one correctly-rounded division of exact-long
    // rationals (t7 sum, d7 = 7x − t7, Σd7, d7·cnt − Σd7)
    "ts_seasonal_decompose" ->
      """WITH e AS (SELECT user_id,
           epoch_ns(ts) // 86400000000000 AS day,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
         d AS (SELECT user_id, day, CAST(sum(vc) AS BIGINT) AS xc
           FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
           FROM d GROUP BY 1),
         cal AS (SELECT user_id,
           unnest(generate_series(lo, hi)) AS day FROM span),
         grid AS (SELECT cal.user_id, cal.day,
           coalesce(d.xc, CAST(0 AS BIGINT)) AS xc
           FROM cal LEFT JOIN d ON cal.user_id = d.user_id
             AND cal.day = d.day),
         tr AS (SELECT user_id, day, xc,
           count(*) OVER w AS n7, CAST(sum(xc) OVER w AS BIGINT) AS t7
           FROM grid WINDOW w AS (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         det AS (SELECT user_id, day, xc,
           CASE WHEN n7 = 7 THEN xc * 7 - t7 END AS d7,
           CASE WHEN n7 = 7 THEN t7 END AS t7v,
           day % 7 AS dow FROM tr),
         seas AS (SELECT user_id, dow, CAST(sum(d7) AS BIGINT) AS sd,
           count(d7) AS cd FROM det WHERE d7 IS NOT NULL GROUP BY 1, 2)
         SELECT det.user_id, det.day, det.xc AS day_cents,
           round(1e-9 + t7v::DOUBLE / 700.0, 4) AS trend,
           round(1e-9 + CASE WHEN d7 IS NOT NULL THEN
             sd::DOUBLE / (cd::DOUBLE * 700.0) END, 4) AS seasonal,
           round(1e-9 + CASE WHEN d7 IS NOT NULL THEN
             (d7 * cd - sd)::DOUBLE / (cd::DOUBLE * 700.0) END, 4)
             AS residual
         FROM det LEFT JOIN seas ON det.user_id = seas.user_id
           AND det.dow = seas.dow""",
    "window_rolling_distinct" ->
      """WITH e AS (SELECT DISTINCT user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT unnest(generate_series(min(day), max(day)))
           AS day FROM e)
         SELECT s.day, count(DISTINCT e.user_id) AS uniq7
         FROM span s LEFT JOIN e
           ON e.day BETWEEN s.day - 6 AND s.day
         GROUP BY 1""",
    // VERBATIM the dedicated key's oracle: the rule-rewritten naive
    // form must reproduce the same per-day interval-join ground truth
    "window_rolling_distinct_rule" ->
      """WITH e AS (SELECT DISTINCT user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT unnest(generate_series(min(day), max(day)))
           AS day FROM e)
         SELECT s.day, count(DISTINCT e.user_id) AS uniq7
         FROM span s LEFT JOIN e
           ON e.day BETWEEN s.day - 6 AND s.day
         GROUP BY 1""",
    // interval-join ground truth for the rule-rewritten dual
    // count/sum(DISTINCT) window; sum(DISTINCT) is DuckDB-native here
    // (HUGEINT → BIGINT), and an empty trailing window yields
    // (uniq7=0, sumd7=NULL) on both engines
    "window_rolling_sumdistinct_rule" ->
      """WITH e AS (SELECT DISTINCT
           CAST(floor(value * 100) AS BIGINT) AS amt,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT unnest(generate_series(min(day), max(day)))
           AS day FROM e)
         SELECT s.day, count(DISTINCT e.amt) AS uniq7,
           CAST(sum(DISTINCT e.amt) AS BIGINT) AS sumd7
         FROM span s LEFT JOIN e
           ON e.day BETWEEN s.day - 6 AND s.day
         GROUP BY 1""",
    // the mixed pair from one interval join: distinct users AND event
    // volume per trailing window (count(user_id) skips the spine's
    // null ids on both engines)
    "window_rolling_mixed_rule" ->
      """WITH e AS (SELECT event_type, user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT event_type,
           unnest(generate_series(min(day), max(day))) AS day
           FROM e GROUP BY event_type)
         SELECT s.event_type, s.day, count(DISTINCT e.user_id) AS uniq7,
           count(e.user_id) AS events7
         FROM span s LEFT JOIN e ON s.event_type = e.event_type
           AND e.day BETWEEN s.day - 6 AND s.day
         GROUP BY 1, 2""",
    // cumulative uniques: the prefix interval join (e.day <= s.day)
    "window_running_distinct_rule" ->
      """WITH e AS (SELECT DISTINCT user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT unnest(generate_series(min(day), max(day)))
           AS day FROM e)
         SELECT s.day, count(DISTINCT e.user_id) AS cum_uniq
         FROM span s LEFT JOIN e ON e.day <= s.day
         GROUP BY 1""",
    // DuckDB's NATIVE distinct window over the identical sparse
    // micros-domain frame — an independent engine's evaluation of the
    // same declarative query (round 17: the sparse lowering makes the
    // Spark side legal AND span-independent)
    "window_rolling_distinct_sparse_rule" ->
      """WITH e AS (SELECT event_id, user_id,
           epoch_ns(ts) // 1000 AS tus FROM events)
         SELECT event_id, count(DISTINCT user_id) OVER
             (ORDER BY tus RANGE BETWEEN 3600000000 PRECEDING
              AND CURRENT ROW) AS uniq1h
         FROM e""",
    // DuckDB native distinct window over the identical
    // INTERVAL-bounded timestamp frame (micros precision both sides)
    "window_rangeframe_distinct_interval_rule" ->
      """WITH e AS (SELECT event_id, user_id,
           make_timestamp(epoch_ns(ts) // 1000) AS tts FROM events)
         SELECT event_id, count(DISTINCT user_id) OVER
             (ORDER BY tts RANGE BETWEEN INTERVAL '1' DAY PRECEDING
              AND CURRENT ROW) AS uniq1d
         FROM e""",
    // grouped interval join; the avg is spelled as the rewrite's own
    // exact-sum/exact-count double division (NOT DuckDB's native
    // avg(DISTINCT), whose accumulation order is unspecified)
    "window_rolling_avgdistinct_rule" ->
      """WITH e AS (SELECT DISTINCT event_type,
           CAST(floor(value * 100) AS BIGINT) AS amt,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT event_type,
           unnest(generate_series(min(day), max(day))) AS day
           FROM e GROUP BY event_type)
         SELECT s.event_type, s.day,
           round(1e-9 + CAST(sum(DISTINCT e.amt) AS DOUBLE)
             / CAST(count(DISTINCT e.amt) AS DOUBLE), 4) AS avgd7
         FROM span s LEFT JOIN e ON s.event_type = e.event_type
           AND e.day BETWEEN s.day - 6 AND s.day
         GROUP BY 1, 2""",
    // the LEADING interval join (e.day in [s.day, s.day+6]) — the
    // DESC twin of window_rolling_distinct_rule's ground truth
    "window_rolling_distinct_desc_rule" ->
      """WITH e AS (SELECT DISTINCT user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT unnest(generate_series(min(day), max(day)))
           AS day FROM e)
         SELECT s.day, count(DISTINCT e.user_id) AS uniq7f
         FROM span s LEFT JOIN e
           ON e.day BETWEEN s.day AND s.day + 6
         GROUP BY 1""",
    // grouped LEADING interval join; avg spelled as the rewrite's own
    // exact-sum/exact-count double division (see the ASC avg oracle)
    "window_rolling_avgdistinct_desc_rule" ->
      """WITH e AS (SELECT DISTINCT event_type,
           CAST(floor(value * 100) AS BIGINT) AS amt,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT event_type,
           unnest(generate_series(min(day), max(day))) AS day
           FROM e GROUP BY event_type)
         SELECT s.event_type, s.day,
           round(1e-9 + CAST(sum(DISTINCT e.amt) AS DOUBLE)
             / CAST(count(DISTINCT e.amt) AS DOUBLE), 4) AS avgd7f
         FROM span s LEFT JOIN e ON s.event_type = e.event_type
           AND e.day BETWEEN s.day AND s.day + 6
         GROUP BY 1, 2""",
    // DuckDB's NATIVE distinct window aggregate over the identical
    // positional frame (sum cast: DuckDB widens BIGINT sums to
    // HUGEINT)
    "window_rowsframe_distinct_rule" ->
      """WITH e AS (SELECT event_type, event_id,
           CAST(floor(value * 100) AS BIGINT) AS amt FROM events)
         SELECT event_type, event_id,
           count(DISTINCT amt) OVER w AS uniq10,
           CAST(sum(DISTINCT amt) OVER w AS BIGINT) AS sumd10
         FROM e WINDOW w AS (PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
    // DuckDB's native distinct window under the identical ASC NULLS
    // LAST cumulative frame (its measured null-row semantics — whole
    // partition — match the mirror lowering)
    "window_running_distinct_nullslast_rule" ->
      """WITH e AS (SELECT CASE WHEN user_id % 19 = 0 THEN NULL
           ELSE epoch_ns(ts) // 86400000000000 END AS dayn, user_id
           FROM events)
         SELECT DISTINCT dayn, count(DISTINCT user_id) OVER
           (ORDER BY dayn ASC NULLS LAST
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_uniq
         FROM e""",
    // DuckDB's NATIVE distinct window over the identical centered
    // frame
    "window_rowsframe_distinct_centered_rule" ->
      """WITH e AS (SELECT event_type, event_id,
           CAST(floor(value * 100) AS BIGINT) AS amt FROM events)
         SELECT event_type, event_id,
           count(DISTINCT amt) OVER w AS uniq11,
           CAST(sum(DISTINCT amt) OVER w AS BIGINT) AS sumd11
         FROM e WINDOW w AS (PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)""",
    // DuckDB's native distinct window under the identical DESC NULLS
    // FIRST cumulative frame (measured: the null peer group precedes
    // the largest day — included in every non-null frame, null rows
    // see only themselves — matching the sentinel fold on negated
    // buckets)
    "window_running_distinct_desc_rule" ->
      """WITH e AS (SELECT CASE WHEN user_id % 23 = 0 THEN NULL
           ELSE epoch_ns(ts) // 86400000000000 END AS dayn, user_id
           FROM events)
         SELECT DISTINCT dayn, count(DISTINCT user_id) OVER
           (ORDER BY dayn DESC NULLS FIRST
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS fwd_uniq
         FROM e""",
    // DuckDB's NATIVE distinct window over the identical strictly-
    // offset frame (sum cast: DuckDB widens BIGINT sums to HUGEINT;
    // empty frames are COUNT-0 / SUM-NULL in both engines — measured)
    "window_rangeframe_distinct_offset_rule" ->
      """WITH e AS (SELECT event_type,
           epoch_ns(ts) // 86400000000000 AS day, user_id FROM events)
         SELECT DISTINCT event_type, day,
           count(DISTINCT user_id) OVER w AS uniq_off,
           CAST(sum(DISTINCT user_id) OVER w AS BIGINT) AS sumd_off
         FROM e WINDOW w AS (PARTITION BY event_type ORDER BY day
           RANGE BETWEEN 6 PRECEDING AND 2 PRECEDING)""",
    // DuckDB's native distinct window over the identical cumulative-
    // to-offset NULLS LAST frame (measured: null rows see the whole
    // partition, non-null rows exclude the null peers — exactly the
    // CURRENT ROW upper's quadrant semantics, evaluated at day−2)
    "window_running_distinct_offset_rule" ->
      """WITH e AS (SELECT CASE WHEN user_id % 19 = 0 THEN NULL
           ELSE epoch_ns(ts) // 86400000000000 END AS dayn, user_id
           FROM events)
         SELECT DISTINCT dayn, count(DISTINCT user_id) OVER
           (ORDER BY dayn ASC NULLS LAST
            RANGE BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           AS cum_uniq_off
         FROM e""",
    // DuckDB's native distinct window over the equivalent
    // NULL-GUARDED row-value: DuckDB's row() counts tuples with null
    // FIELDS as distinct values (measured), while SQL multi-argument
    // COUNT skips any-null rows — the CASE reproduces the skip
    "window_rolling_distinct_pair_rule" ->
      """WITH e AS (SELECT event_type,
           epoch_ns(ts) // 86400000000000 AS day,
           CASE WHEN user_id % 19 = 0 THEN NULL ELSE user_id END AS uid,
           CAST(floor(value * 100) AS BIGINT) AS amt FROM events)
         SELECT DISTINCT event_type, day,
           count(DISTINCT CASE WHEN uid IS NULL OR amt IS NULL
             THEN NULL ELSE (uid, amt) END) OVER
             (PARTITION BY event_type ORDER BY day
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS uniq_pairs
         FROM e""",
    // DuckDB's native distinct window with the day derived INSIDE the
    // aggregate — the expression-target form
    "window_running_distinct_expr_rule" ->
      """SELECT event_type, event_id,
           count(DISTINCT epoch_ns(ts) // 86400000000000) OVER
             (PARTITION BY event_type ORDER BY event_id) AS cum_days
         FROM events""",
    // VERBATIM the grouped dedicated key's oracle (see
    // window_rolling_distinct_rule)
    "window_rolling_distinct_by_rule" ->
      """WITH e AS (SELECT DISTINCT event_type, user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT event_type,
           unnest(generate_series(min(day), max(day))) AS day
           FROM e GROUP BY event_type)
         SELECT s.event_type, s.day, count(DISTINCT e.user_id) AS uniq7
         FROM span s LEFT JOIN e ON s.event_type = e.event_type
           AND e.day BETWEEN s.day - 6 AND s.day
         GROUP BY 1, 2""",
    "window_rolling_distinct_by" ->
      """WITH e AS (SELECT DISTINCT event_type, user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT event_type,
           unnest(generate_series(min(day), max(day))) AS day
           FROM e GROUP BY event_type)
         SELECT s.event_type, s.day, count(DISTINCT e.user_id) AS uniq7
         FROM span s LEFT JOIN e ON s.event_type = e.event_type
           AND e.day BETWEEN s.day - 6 AND s.day
         GROUP BY 1, 2""",
    "window_rolling_distinct_approx" ->
      """WITH e AS (SELECT DISTINCT user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         span AS (SELECT unnest(generate_series(min(day), max(day)))
           AS day FROM e),
         x AS (SELECT s.day, count(DISTINCT e.user_id) AS uniq7
           FROM span s LEFT JOIN e
             ON e.day BETWEEN s.day - 6 AND s.day
           GROUP BY 1)
         SELECT x.day, x.uniq7, TRUE AS est_ok
         FROM x JOIN (SELECT DISTINCT day FROM e) a ON x.day = a.day""",
    "ts_seasonal_dow" ->
      """WITH e AS (SELECT event_id, value,
           (epoch_ns(ts) // 86400000000000) % 7 AS dow FROM events),
         m AS (SELECT dow, avg(value) AS dow_mean FROM e GROUP BY 1)
         SELECT e.event_id, e.dow,
           round(1e-9 + m.dow_mean, 4) AS dow_mean,
           round(1e-9 + (e.value - m.dow_mean), 4) AS resid
         FROM e JOIN m ON e.dow = m.dow""",
    "ts_twap" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_ns(ts) AS tsn
           FROM events),
         n AS (SELECT user_id, value, tsn,
           lead(tsn) OVER (PARTITION BY user_id
             ORDER BY tsn, event_id) AS next_tsn
           FROM e),
         d AS (SELECT user_id,
           CAST(floor(value * 1000000 + 0.5) AS BIGINT)
             * CAST(floor(CAST(next_tsn - tsn AS DOUBLE) / 1000000)
                 AS BIGINT) AS term,
           CAST(floor(CAST(next_tsn - tsn AS DOUBLE) / 1000000)
             AS BIGINT) AS dur_ms
           FROM n WHERE next_tsn IS NOT NULL)
         SELECT user_id, count(*) AS n_iv,
           round(1e-9 + CASE WHEN sum(dur_ms) > 0 THEN
             CAST(sum(term) AS DOUBLE)
               / (CAST(sum(dur_ms) AS DOUBLE) * 1000000.0) END, 4)
             AS twap
         FROM d GROUP BY 1""",
    "ts_burst_detect" ->
      """WITH daily AS (SELECT user_id,
           epoch_ns(ts) // 86400000000000 AS day,
           count(*) AS n_events
         FROM events GROUP BY 1, 2),
         b AS (SELECT user_id, day, n_events,
           count(n_events) OVER w AS base_n,
           CAST(sum(n_events) OVER w AS BIGINT) AS base_sum
         FROM daily
         WINDOW w AS (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT user_id, day, n_events, base_n, base_sum,
           round(1e-9 + CASE WHEN base_n > 0 THEN
             CAST(base_sum AS DOUBLE) / CAST(base_n AS DOUBLE) END, 4)
             AS base_mean,
           (base_n >= 3 AND n_events * base_n > base_sum * 2) AS burst
         FROM b""",
    // s_i = r_i − least(0, min_{j≤i} r_j): the same two running
    // windows; every quantity an exact integer (sum()'s HUGEINT is
    // cast back — the sums fit BIGINT by the corpus bound)
    "ts_changepoint_cusum" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS xc FROM events),
         g AS (SELECT CAST(sum(xc) // count(*) AS BIGINT) + 1 AS a FROM e),
         r AS (SELECT event_id, user_id, tsn, a,
           CAST(sum(xc - a) OVER w AS BIGINT) AS r
         FROM e CROSS JOIN g
         WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         m AS (SELECT event_id, a, r,
           least(CAST(0 AS BIGINT), min(r) OVER w2) AS mn
         FROM r
         WINDOW w2 AS (PARTITION BY user_id ORDER BY tsn, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, r - mn AS cusum,
                (r - mn) > a * 20 AS is_drift
         FROM m""",
    "ts_resample_ohlc" ->
      """WITH e AS (SELECT user_id,
           epoch_ns(ts) // 86400000000000 AS day,
           epoch_ns(ts) AS tsn, event_id, value FROM events),
         r AS (SELECT user_id, day, value,
           row_number() OVER (PARTITION BY user_id, day
             ORDER BY tsn, event_id) AS ra,
           row_number() OVER (PARTITION BY user_id, day
             ORDER BY tsn DESC, event_id DESC) AS rd
           FROM e)
         SELECT user_id, day,
           max(CASE WHEN ra = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rd = 1 THEN value END) AS close,
           count(*) AS volume
         FROM r GROUP BY 1, 2""",
    "cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
         SELECT c.cohort_day, a.day - c.cohort_day AS offset_d,
           count(*) AS n_users
         FROM a JOIN c ON a.user_id = c.user_id
         GROUP BY 1, 2""",
    "ts_pct_change" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS rev_c
           FROM orders GROUP BY 1),
         lagged AS (SELECT d, rev_c,
           lag(rev_c) OVER (ORDER BY d) AS prev_c FROM daily)
         SELECT CAST(d AS VARCHAR) AS day, rev_c,
           rev_c - prev_c AS delta_c,
           round(1e-9 + CASE WHEN prev_c > 0
             THEN CAST(rev_c - prev_c AS DOUBLE)
               / CAST(prev_c AS DOUBLE) * 100.0 END, 4) AS pct_change
         FROM lagged""",
    // same calendar grid + equi-join lag alignment; HUGEINT sums
    // mirror sum_l128's exactness, identical closed-form assembly
    "ts_xcorr_lagged" ->
      """WITH e AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
           event_type FROM events),
         daily AS (SELECT day, event_type, count(*) AS c FROM e
           WHERE event_type IN ('view', 'click') GROUP BY 1, 2),
         span AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         grid AS MATERIALIZED (
           SELECT unnest(generate_series(lo, hi)) AS day FROM span),
         gx AS MATERIALIZED (
           SELECT g.day, coalesce(d.c, 0) AS x FROM grid g
           LEFT JOIN daily d ON d.day = g.day AND d.event_type = 'view'),
         gy AS MATERIALIZED (
           SELECT g.day AS yday, coalesce(d.c, 0) AS y FROM grid g
           LEFT JOIN daily d ON d.day = g.day AND d.event_type = 'click'),
         lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
         pairs AS (
           SELECT l.lag, gx.x, gy.y
           FROM gx CROSS JOIN lags l
           JOIN gy ON gy.yday = gx.day + l.lag),
         g AS (SELECT lag, count(*) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
           sum(x * x) AS sxx, sum(y * y) AS syy
           FROM pairs GROUP BY 1),
         c AS (SELECT lag, n,
           n * sxy - sx * sy AS cxy,
           n * sxx - sx * sx AS m2x,
           n * syy - sy * sy AS m2y
           FROM g)
         SELECT CAST(lag AS BIGINT) AS lag, n,
           round(1e-9 + CASE WHEN n >= 2 AND m2x > 0 AND m2y > 0
             THEN CAST(cxy AS DOUBLE)
               / sqrt(CAST(m2x AS DOUBLE) * CAST(m2y AS DOUBLE))
             END, 4) AS xcorr
         FROM c""",
    "ts_autocorr" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id,
           CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS y FROM events),
         p AS (SELECT user_id, y, lag(y) OVER (PARTITION BY user_id
           ORDER BY tsn, event_id) AS x FROM e),
         q AS (SELECT user_id, x, y FROM p WHERE x IS NOT NULL),
         g AS (SELECT user_id, count(*) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
           sum(x * x) AS sxx, sum(y * y) AS syy
           FROM q GROUP BY 1),
         c AS (SELECT user_id, n,
           n * sxy - sx * sy AS cxy,
           n * sxx - sx * sx AS m2x,
           n * syy - sy * sy AS m2y
           FROM g)
         SELECT user_id, n,
           round(1e-9 + CASE WHEN n >= 2 AND m2x > 0 AND m2y > 0
             THEN CAST(cxy AS DOUBLE)
               / sqrt(CAST(m2x AS DOUBLE) * CAST(m2y AS DOUBLE))
             END, 4) AS autocorr
         FROM c""",
    "ts_interval_active" ->
      """WITH li AS (SELECT l_orderkey,
           max(CAST(l_shipdate AS DATE)) AS e_day
           FROM lineitem GROUP BY 1),
         iv AS (SELECT o.o_orderkey,
           date_diff('day', DATE '1970-01-01',
             CAST(o.o_orderdate AS DATE)) AS s,
           date_diff('day', DATE '1970-01-01', e_day) AS e
           FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey),
         pts AS (SELECT s AS day, 1 AS delta FROM iv
           UNION ALL SELECT e + 1, -1 FROM iv),
         dd AS (SELECT day, sum(delta) AS d_sum FROM pts GROUP BY 1),
         cum AS (SELECT day, CAST(sum(d_sum) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS active
           FROM dd)
         SELECT iv.o_orderkey, cum.active AS n_open
         FROM iv JOIN cum ON iv.s = cum.day""",
    "ts_outlier_mad" ->
      """WITH e AS (SELECT event_id, user_id,
           CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v4 FROM events),
         med AS (SELECT user_id, quantile_cont(v4 * 2, 0.5) AS med8
           FROM e GROUP BY 1),
         d AS (SELECT e.event_id, e.user_id, e.v4, med.med8,
           abs(e.v4 * 2 - med.med8) AS dev8
           FROM e JOIN med ON e.user_id = med.user_id),
         mad AS (SELECT user_id, quantile_cont(dev8 * 2, 0.5) AS mad16
           FROM d GROUP BY 1)
         SELECT d.event_id,
           round(1e-9 + d.med8 / 2 / 1e4, 4) AS med_v,
           round(1e-9 + mad.mad16 / 4 / 1e4, 4) AS mad_v,
           d.dev8 > 2.25 * mad.mad16 AS is_outlier
         FROM d JOIN mad ON d.user_id = mad.user_id""",
    "ts_interpolate" ->
      """WITH e AS (SELECT user_id,
           epoch_ns(ts) // 86400000000000 AS day,
           CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vmu FROM events),
         daily AS (SELECT user_id, day,
           CAST(sum(vmu) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6 AS dm
           FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
           FROM daily GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day
           FROM span),
         g AS (SELECT grid.user_id, grid.day, daily.dm
           FROM grid LEFT JOIN daily
             ON grid.user_id = daily.user_id AND grid.day = daily.day),
         f AS (SELECT user_id, day, dm,
           last_value(CASE WHEN dm IS NOT NULL THEN day END IGNORE NULLS)
             OVER wa AS pd,
           last_value(CASE WHEN dm IS NOT NULL THEN dm END IGNORE NULLS)
             OVER wa AS pv,
           last_value(CASE WHEN dm IS NOT NULL THEN day END IGNORE NULLS)
             OVER wd AS nd,
           last_value(CASE WHEN dm IS NOT NULL THEN dm END IGNORE NULLS)
             OVER wd AS nv
           FROM g
           WINDOW wa AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wd AS (PARTITION BY user_id ORDER BY day DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT user_id, day, dm IS NOT NULL AS obs,
           round(1e-9 + CASE WHEN dm IS NOT NULL THEN dm
             ELSE pv + (nv - pv) * (CAST(day - pd AS DOUBLE)
               / CAST(nd - pd AS DOUBLE)) END, 4) AS v_fill
         FROM f""",
    "funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn
           FROM events),
         v AS (SELECT user_id, min(tsn) AS t_view FROM e
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(tsn) AS t_click
           FROM e JOIN v ON e.user_id = v.user_id
           WHERE event_type = 'click' AND tsn > t_view
           GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(tsn) AS t_purchase
           FROM e JOIN c ON e.user_id = c.user_id
           WHERE event_type = 'purchase' AND tsn > t_click
           GROUP BY e.user_id)
         SELECT v.user_id,
           v.t_view // 1000000 AS t_view_ms,
           c.t_click // 1000000 AS t_click_ms,
           p.t_purchase // 1000000 AS t_purchase_ms,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS BIGINT) AS step
         FROM v LEFT JOIN c ON v.user_id = c.user_id
         LEFT JOIN p ON v.user_id = p.user_id""",
    // 6h conversion window = 21600000000000 epoch-nanos; durations in
    // ms via floor division (both engines' // / div truncate toward
    // negative infinity on non-negative operands identically)
    "funnel_window_gap" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn
           FROM events),
         v AS (SELECT user_id, min(tsn) AS t_view FROM e
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(tsn) AS t_click
           FROM e JOIN v ON e.user_id = v.user_id
           WHERE event_type = 'click' AND tsn > t_view
             AND tsn <= t_view + 21600000000000
           GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(tsn) AS t_purchase
           FROM e JOIN c ON e.user_id = c.user_id
           WHERE event_type = 'purchase' AND tsn > t_click
             AND tsn <= t_click + 21600000000000
           GROUP BY e.user_id)
         SELECT v.user_id,
           v.t_view // 1000000 AS t_view_ms,
           (c.t_click - v.t_view) // 1000000 AS view_to_click_ms,
           (p.t_purchase - c.t_click) // 1000000 AS click_to_purchase_ms,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS BIGINT) AS step
         FROM v LEFT JOIN c ON v.user_id = c.user_id
         LEFT JOIN p ON v.user_id = p.user_id"""
  )
}
