package graft
object Bench {
  /** Robust box-speed estimator (r15 verdict item 1). Round 15's close
    * artifact normalized with `min(before, after)` over SINGLE samples
    * and latched onto an outlier-FAST 1.122 s burst (the same box
    * measured ~1.91 s three hours earlier and 2.187 s after the sweep;
    * the two runs' RAW totals agreed within 1.5%), publishing a
    * 340.5 s normalized total for a 206.7 s run. min() defends against
    * stalls — which only inflate — but AMPLIFIES fast outliers, which
    * only deflate. Each side is therefore the MEDIAN of its samples
    * (one burst or stall cannot move it); the two side medians must
    * agree within 20% or the caller refuses to normalize
    * (`value_normalized: null` + `calib_unstable`). Returns
    * (calib_sec = min of the side medians — still the stall defense
    * ACROSS sides, spread = |before − after| relative to that min,
    * stable = spread ≤ 0.20). Pinned by BenchCalibSpec. */
  def calibEstimate(before: Seq[Double], after: Seq[Double])
      : (Double, Double, Boolean) = {
    require(before.nonEmpty && after.nonEmpty,
      "calibEstimate needs at least one sample per side")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val b = median(before)
    val a = median(after)
    val sec = math.min(a, b)
    val spread = (math.max(a, b) - sec) / sec
    (sec, spread, spread <= 0.20)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)
    // Warmup at the smallest sf: every query's whole-stage codegen, custom
    // Expressions, broadcast machinery, and parquet reader paths get
    // JIT/Janino-compiled ONCE here, so the timed loop below measures data
    // processing, not compiler latency (cold-start was ~15s of a 45s run).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    // Optional comma-separated subset (dev loop: time one query without the
    // full sweep). Unset/empty = all queries, the driver contract.
    val only = LocalSession.onlyKeys("bench", SparkEntry.queries.keySet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory) {
      selected.foreach { case (name, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      // The warmup allocates heavily (every query's codegen classes,
      // broadcasts, parquet buffers); left alone, the first major GC of
      // the 24g heap lands mid-timed-loop and charges ~10s to whichever
      // query is running (observed as a roaming per-round outlier).
      // Collect now so the timed loop starts from a settled heap.
      System.gc()
    }
    // Box calibration (r14 verdict item 1): round 14's headline total
    // moved 1.61x with ZERO code cause — pure machine drift, provable
    // only by re-benching old code. This fixed synthetic workload
    // (deterministic in-memory hash-aggregate over spark.range, no IO,
    // no data dependence, pinned partitioning) is timed before AND
    // after the sweep; calib_sec rides in the JSON so any reader —
    // next round's judge, or the edit→bench dev loop — can normalize
    // totals across machine-speed drift without a checkout experiment.
    // calib_ref re-anchored round 17 (r16 verdict item 5): the old
    // 1.848 was a round-15 box constant sampled without the settling
    // burn — i.e. inside the boost window that kept flagging sweeps
    // unstable. 2.10 is the median of a six-sample warm-steady
    // measurement taken THROUGH the burn path (before [1.844, 1.983,
    // 2.073] / after [2.134, 2.158, 2.207], spread 0.088, stable).
    // value_normalized = value * calib_ref / calib_sec re-expresses
    // the total in round-17-warm-box seconds; cross-round readers
    // comparing normalized totals across the anchor change should
    // rescale by 1.848/2.10 or fall back to raw + per-key ratios.
    val CalibRef = 2.10 // seconds, warm-steady on the round-17 box
    def calibPass(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: the session runs ANSI mode and summing 8e9
      // xxhash64 longs overflows; xor is closed over Long
      spark.range(0L, 8000000000L, 1L, cpus)
        .selectExpr("xxhash64(id, 42) AS h")
        .selectExpr("bit_xor(h) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibPass() // codegen/JIT warm — calibration must not time Janino
    // SETTLING BURN (round 17, r16 verdict item 5): this box runs
    // measurably FASTER while cool (boost clocks / light co-tenancy:
    // observed before-medians 1.12–1.57 s against under-load
    // after-medians 1.9–2.3 s), so the before side of round-close
    // sweeps kept sampling the boost window and the 20% gate refused
    // to normalize (2 of 3 r16 sweeps self-flagged calib_unstable).
    // Consecutive-pass agreement alone cannot detect the window — the
    // boost samples agree with EACH OTHER — so the burn is wall-clock
    // based: keep the calibration workload running until ≥ 60 s of
    // full-load burn AND the last two passes agree within 5%, capped
    // at 150 s. The before samples then measure the same loaded
    // steady state the sweep and the after side run in.
    locally {
      val t0 = System.nanoTime()
      var prev = calibPass()
      var cur = calibPass()
      def burnt = (System.nanoTime() - t0) / 1e9
      while (burnt < 150 && (burnt < 60 ||
          math.abs(cur - prev) / math.min(cur, prev) > 0.05)) {
        prev = cur; cur = calibPass()
      }
      System.err.println(f"[bench] calib burn ${burnt}%.1fs " +
        f"(last passes $prev%.3f, $cur%.3f)")
    }
    // THREE samples per side, not one (r15 verdict item 1): the round-15
    // close run's single before-sample was an outlier-fast 1.122 s burst
    // (same box: ~1.91 s hours earlier, 2.187 s after the sweep) and the
    // min(before, after) estimator latched onto it, publishing a 1.65×-
    // wrong value_normalized. A median per side is immune to any single
    // burst or stall; ~6 extra calibration passes cost ~12 s on a ~200 s
    // sweep.
    val calibBeforeS = Seq.fill(3)(calibPass())
    // SECOND calibration axis (round 17): the round-17 close
    // adjudication proved the ALU kernel above does not span every
    // drift axis — the close sweep ran median 1.34× slow on shared
    // keys (smallest keys worst, the shuffle/hash-map-bound shape)
    // while xxhash64-over-range calibrated at anchor, and re-running
    // the EXACT r16 code reproduced the slowdown. This kernel times
    // the missing axis: a wide hash aggregate (4M groups from 100M
    // rows — per-task partial-agg hash maps + a multi-GB exchange;
    // memory-bandwidth and shuffle-path bound, still deterministic,
    // no IO). DIAGNOSTIC ONLY — value_normalized stays keyed to the
    // ALU kernel; readers compare calib_shuffle_sec across rounds to
    // attribute drift to the memory axis before blaming code.
    // CalibShuffleRef is this kernel's median on the round-17-CLOSE
    // box — i.e. measured DURING the ~2×-slow-memory window the
    // adjudication documents, so a future healthy box should read
    // BELOW the ref.
    // The kernel is deliberately read with MIN per run (not median):
    // its shuffle files hit the same /tmp the co-tenant stalls hit, so
    // individual passes swing 2x (observed [4.4, 7.8] back to back);
    // the min is the achievable speed of the axis, which is the drift
    // signal — a healthy box's min should land well below the ref
    // (anchored on the round-17-CLOSE box, i.e. INSIDE the ~2x-slow
    // memory window the README adjudication documents: samples
    // [2.47, 2.20, 2.18] / [2.40, 2.21, 2.50], min 2.18).
    val CalibShuffleRef = 2.20 // seconds (min), round-17-close box
    def calibShufflePass(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, cpus)
        .selectExpr("id % 2000000 AS k", "xxhash64(id, 7) AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.expr("bit_xor(v) AS x"))
        .selectExpr("bit_xor(x) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibShufflePass() // codegen warm, same discipline as the ALU kernel
    val calibShufBeforeS = Seq.fill(3)(calibShufflePass())
    // A failed query must NOT make the headline number better (its
    // time-to-crash is usually tiny) — record failures explicitly and
    // surface them in the JSON so the edit→bench loop can't mistake a
    // regression-into-exception for a perf win.
    var failed = List.empty[String]
    def timedPass(pass: Int): Map[String, Option[Double]] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink forces full computation of every column — a bare
        // count() lets Catalyst prune the very expressions we benchmark.
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            if (!failed.contains(name)) failed ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] p$pass $name%-22s $dt%8.2fs")
        // A failed query records null, not its time-to-crash: crashing is
        // usually fast, so including it would make the headline total LOOK
        // better after a regression-into-exception.
        name -> (if (ok) Some(dt) else None)
      }.toMap
    // Two timed sweeps, per-query MIN. This box sees periodic external
    // stalls (~10-70s, observed smearing across alphabetically-consecutive
    // queries once per run — an outside process, not the queries); a
    // localized stall cannot inflate the same query in both passes, so the
    // min is the honest steady-state cost. A query that failed in either
    // pass stays failed (no masking a flaky crash with its lucky pass).
    val p1 = timedPass(1)
    val p2 = timedPass(2)
    // Stall salvage (round-6 verdict item 7): the box's external stalls
    // occasionally smear the SAME alphabetic neighborhood in BOTH
    // sweeps (observed: 40s+ landing on consecutive dedup_*/embedding_*
    // keys twice), which defeats the per-query min. A key is SUSPECT
    // while no two of its timings AGREE (within 2x of each other, or
    // within 1s absolute — small-denominator keys jitter multiplicatively
    // on sub-second costs). Suspects get targeted re-runs, up to 3
    // bounded rounds, each touching only the still-disagreeing few; the
    // reported stall_suspect list is what REMAINS without an agreeing
    // pair after retries — the artifact's residual doubt, not every key
    // a stall ever brushed (round 6 reported 26 brushed keys; the goal
    // is <5 residual).
    def agrees(a: Double, b: Double): Boolean =
      math.max(a, b) <= 2 * math.min(a, b) || math.abs(a - b) <= 1.0
    val timings = scala.collection.mutable.Map[String, List[Double]]()
    selected.foreach { case (name, _) =>
      timings(name) = List(p1.get(name), p2.get(name)).flatten.flatten
    }
    def settled(name: String): Boolean = {
      val ts = timings(name)
      ts.size < 2 || ts.combinations(2).exists {
        case a :: b :: Nil => agrees(a, b)
        case _             => false
      }
    }
    var open = selected.filter { case (name, _) =>
      p1(name).isDefined && p2(name).isDefined && !settled(name)
    }
    var retryRound = 0
    while (open.nonEmpty && retryRound < 3) {
      retryRound += 1
      System.err.println(
        s"[bench] retry $retryRound: ${open.size} stall suspects")
      open.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] r$retryRound $name%-22s $dt%8.2fs")
        // a failed retry adds no timing (and cannot mask the base passes)
        if (ok) timings(name) = dt :: timings(name)
      }
      open = open.filter { case (name, _) => !settled(name) }
    }
    val stillSuspect = open.map(_._1)
    // second calibration side AFTER the sweep: min of the two side
    // MEDIANS is the box's steady-state speed (a stall inflates at most
    // one side; a single fast burst can no longer move a median); a
    // large before/after disagreement refuses normalization outright —
    // the estimator and its 20% gate are pinned by BenchCalibSpec
    val calibAfterS = Seq.fill(3)(calibPass())
    val calibShufAfterS = Seq.fill(3)(calibShufflePass())
    val (calibSec, calibSpread, calibStable) =
      calibEstimate(calibBeforeS, calibAfterS)
    val calibShufSec = (calibShufBeforeS ++ calibShufAfterS).min
    val results = selected.map { case (name, _) =>
      val best = (p1(name), p2(name)) match {
        case (Some(_), Some(_)) => Some(timings(name).min)
        case _                  => None
      }
      name -> best
    }.toMap
    // Millisecond precision keeps the one-line JSON compact (~70 queries at
    // full double precision overflowed the driver's ~2KB output-tail
    // window, truncating the line's head); ms is far below run-to-run
    // noise anyway.
    // Locale.ROOT: a comma-decimal default locale would corrupt the JSON.
    def r3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) =>
      s"\"" + k + "\":" + v.map(r3).getOrElse("null")
    }.mkString("{", ",", "}")
    val total = results.values.flatten.sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val subset = if (only.isDefined) "\"subset\":true," else ""
    // Self-diagnosing artifact: stall_suspect now lists only the keys
    // that STILL lack two agreeing timings after the bounded retry
    // loop — a reader comparing rounds discounts exactly these (in a
    // stall-smeared round-5 run, driver-visible numbers disagreed with
    // steady state by up to 8x; round 6 reported 26 brushed keys
    // under the old one-retry policy).
    val suspectJson = stillSuspect.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Declared brute-force baselines (r13 verdict item 8): these keys
    // are O(n²) EXACT ORACLES for gated sub-quadratic scale siblings
    // (plans/AuditInventory bnl_join allows) — their wall time grows
    // quadratically BY DESIGN (ann_knn_join: 22 s = 5.8% of the sf1
    // bench) and must never be read as a scaling signal; the artifact
    // itself now carries the discount list.
    val baselineJson = graft.plans.AuditInventory.declaredAllows
      .collect { case (k, allows) if allows("bnl_join") => k }
      .toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // value_normalized only when the two calibration sides agree within
    // 20% — a disagreeing pair means the box's speed is not a single
    // number for this run, and cross-run RAW totals (which the r15 judge
    // fell back to) are the honest comparison; calib_unstable flags it
    val normJson =
      if (calibStable) r3(total * CalibRef / calibSec) else "null"
    def samples(xs: Seq[Double]) = xs.map(r3).mkString("[", ",", "]")
    val calibJson = s""""calib_sec":${r3(calibSec)},"calib_spread":${
      r3(calibSpread)},"calib_unstable":${!calibStable},"calib_before":${
      samples(calibBeforeS)},"calib_after":${samples(calibAfterS)
      },"calib_ref":${r3(CalibRef)},"calib_shuffle_sec":${r3(calibShufSec)
      },"calib_shuffle_before":${samples(calibShufBeforeS)
      },"calib_shuffle_after":${samples(calibShufAfterS)
      },"calib_shuffle_ref":${r3(CalibShuffleRef)
      },"value_normalized":$normJson,"""
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",$calibJson$subset"queries":$qs,"failed":$failedJson,"stall_suspect":$suspectJson,"declared_baselines":$baselineJson,"sf":"$sfDir"}"""
    println(line)
    // Short summary of the headline fields, on STDERR: consumers parse
    // the LAST stdout line, which must stay the full line above with its
    // per-key `queries` map (a trailing summary on stdout hid that map
    // from per-query comparisons). The full line is also persisted to
    // bench_last.json below, in case a stdout tail truncates it.
    System.err.println(s"""{"metric":"total_summary","value":${r3(total)},"unit":"sec","n_keys":${results.size},"n_failed":${failed.size},"value_normalized":$normJson,"calib_sec":${r3(calibSec)},"calib_shuffle_sec":${r3(calibShufSec)},"sf":"$sfDir"}""")
    // The driver captures a bounded TAIL of stdout; with ~100 queries the
    // line's head (the headline total) can fall outside that window. The
    // same line is persisted so the round artifact / future rounds carry
    // the exact total either way ("bench_last.json" is committed with the
    // repo; /tmp survives the sbt process for the driver's collection).
    for (p <- Seq("/tmp/bench.json", "bench_last.json"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        line + "\n")
      catch { case _: Throwable => () }
    spark.stop()
  }
}
