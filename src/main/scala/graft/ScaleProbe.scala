package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Single-node scale probes beyond the gate fixtures: synthetic 10M-row
  * frames, deterministic content, noop sink. Not part of the driver
  * contract — run manually (`sbt "runMain graft.ScaleProbe"`) to refresh
  * the README's measured-at-scale paragraph after touching the probed
  * operators. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = LocalSession()

    val df = spark.range(n).select(col("id"),
        (col("id") % 97).cast("double").as("v"),
        pmod(xxhash64(col("id")), lit(5)).as("flag"))
      .repartition(32)

    def time(name: String)(thunk: => Unit): Unit = {
      val t0 = System.nanoTime()
      thunk
      println(f"[probe] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    }
    def sink(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()

    // warm the scan + codegen once
    sink(df)

    time("global cumSum (two-pass)") {
      sink(graft.operators.GlobalWindow.cumSum(df, Seq(col("id")), "v", "cs"))
    }
    time("grouped cumSum 5 flags (two-pass)") {
      sink(graft.operators.GlobalWindow.groupedCumSum(df, Seq("flag"),
        Seq(col("id")), "v", "cs"))
    }
    time("grouped window (5-task cap)") {
      val w = Window.partitionBy(col("flag")).orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sink(df.withColumn("cs", sum(col("v")).over(w)))
    }

    // calendar-month trailing window: 10M events, 100k users, ~1 year
    val ev = spark.range(n).select(
        pmod(xxhash64(col("id")), lit(100000)).as("user_id"),
        date_add(lit(java.sql.Date.valueOf("2025-01-01")),
          pmod(xxhash64(col("id"), lit(1)), lit(365)).cast("int")).as("dt"),
        (col("id") % 97).cast("double").as("v"))
      .repartition(32)
    sink(ev)
    time("trailingMonths 10M evts (prefix+asof)") {
      sink(graft.operators.CalendarWindow.trailingMonths(ev,
        Seq("user_id"), col("dt"), "v", months = 1))
    }
    time("monthsAgg offset c(2,-1) 10M evts") {
      import graft.operators.CalendarWindow.{MonthsAggSpec, MonthsOp}
      sink(graft.operators.CalendarWindow.monthsAgg(ev, Seq("user_id"),
        col("dt"), Seq(MonthsAggSpec("w_sum", MonthsOp.Sum, "v"),
          MonthsAggSpec("w_cnt", MonthsOp.Count, "v"),
          MonthsAggSpec("w_max", MonthsOp.Max, "v")),
        before = 2, after = -1))
    }
    // the min/max EXPANSION branch under a WIDE (6-month) window — its
    // cost model is (window days / distinct day) × daily partials, the
    // one CalendarWindow branch whose expansion factor hadn't been
    // probed at scale. Paired with the same-width prefix-path probe so
    // the README can quote the expansion premium directly.
    time("monthsAgg min/max WIDE c(6,0) 10M") {
      import graft.operators.CalendarWindow.{MonthsAggSpec, MonthsOp}
      sink(graft.operators.CalendarWindow.monthsAgg(ev, Seq("user_id"),
        col("dt"), Seq(MonthsAggSpec("w_min", MonthsOp.Min, "v"),
          MonthsAggSpec("w_max", MonthsOp.Max, "v")),
        before = 6, after = 0))
    }
    time("monthsAgg sum/std WIDE c(6,0) 10M") {
      import graft.operators.CalendarWindow.{MonthsAggSpec, MonthsOp}
      sink(graft.operators.CalendarWindow.monthsAgg(ev, Seq("user_id"),
        col("dt"), Seq(MonthsAggSpec("w_sum", MonthsOp.Sum, "v"),
          MonthsAggSpec("w_std", MonthsOp.Std, "v")),
        before = 6, after = 0))
    }

    // Dedup stack at sf1-equivalent corpus size (documents scales ~5k
    // rows per 0.1 sf → sf1 ≈ 50k docs; DEDUP_DOCS env overrides).
    // Synthetic docs: 40 words from a 1k-word vocab, content a pure
    // function of doc id; every 20th doc is a NEAR-DUP of its
    // predecessor (same word stream, one word substituted) so the
    // planted pair set is ~n/20 and candidate-vs-result precision is
    // measurable. Empirically validates the prefix-filter postings²
    // claim: candidate count should sit near the planted-pair count,
    // NOT near n².
    // Skewed shuffle join: half the fact rows share ONE key. Broadcast is
    // disabled so both forms shuffle — the plain join lands the hot key
    // on a single reducer; the salted join spreads it over nSalts tasks.
    val sk = spark.range(n).select(
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id")), lit(1000))).as("k"),
        col("id").as("v"))
      .repartition(32)
    val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    sink(sk)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    time("plain shuffle join (1 hot key)") {
      sink(sk.join(dim, "k"))
    }
    time("salted join nSalts=32 (same data)") {
      sink(graft.operators.SkewOps.saltedJoin(sk, dim, Seq("k"), nSalts = 32))
    }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    val nDocs = sys.env.getOrElse("DEDUP_DOCS", "50000").toLong
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(1), lit(40)), i => concat(lit("w"),
          pmod(xxhash64(
            when(col("id") % 20 === 0 and col("id") > 0,
              col("id") - 1).otherwise(col("id")), i),
            lit(1000)))), " ").as("text"))
      // the substitution: dup docs append a marker word instead of a
      // shared 41st word — J(orig, dup) = 38/44 ≈ 0.86 on 3-shingles
      .withColumn("text", concat(col("text"), lit(" "),
        when(col("doc_id") % 20 === 0 and col("doc_id") > 0, lit("zz"))
          .otherwise(lit("yy"))))
      .repartition(32)
    sink(docs)
    val planted = nDocs / 20
    time(s"jaccardPairs ${nDocs / 1000}k docs (prefix filter)") {
      val c = graft.operators.Dedup.jaccardPairs(
        docs, "doc_id", "text", n = 3, minJaccard = 0.5).count()
      println(s"[probe]   jaccard pairs found: $c (planted ~$planted)")
    }
    time(s"minhashPairs ${nDocs / 1000}k docs (LSH bands)") {
      val c = graft.operators.Dedup.minhashPairs(
        docs, "doc_id", "text", n = 3, k = 32, rowsPerBand = 2,
        minJaccard = 0.5).count()
      println(s"[probe]   minhash pairs found: $c (planted ~$planted)")
    }
    time(s"simhashPairs ${nDocs / 1000}k docs (pigeonhole)") {
      val c = graft.operators.Dedup.simhashPairs(
        docs, "doc_id", "text", n = 3, maxHamming = 3).count()
      println(s"[probe]   simhash pairs found: $c")
    }

    // duplicated-passage detection at the same corpus scale: phase-1
    // hash prefilter touches every doc; the string-span phase only the
    // dup-bearing ~10% (every 20th doc + its near-copy source share all
    // their 8-grams) — the two-phase win text_dup_spans ships with
    time(s"dupSpans ${nDocs / 1000}k docs (hash prefilter)") {
      val hashed = docs.select(col("doc_id"),
        explode(graft.operators.Dedup.shingleHashes(col("text"), 8)).as("h"))
      val dupH = hashed.groupBy("h").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("h")
      val dupDocs = hashed.join(dupH, "h").select("doc_id").distinct()
      val c = docs.join(dupDocs, "doc_id")
        .select(col("doc_id"),
          explode(graft.operators.Dedup.shingles(col("text"), 8)).as("sp"))
        .groupBy("sp").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).count()
      println(s"[probe]   duplicated 8-token spans: $c")
    }
    // the GENERAL month-frame path (arbitrary aggregates via raw-row
    // expansion join — monthsAggGeneral): median over a trailing month
    // at 1M events / 10k users. O(n·w̄) joined rows is the honest cost
    // of a non-decomposable aggregate; this pins the constant.
    locally {
      val n1m = n / 10
      val ev1 = spark.range(n1m).select(
          pmod(xxhash64(col("id")), lit(10000)).as("user_id"),
          date_add(lit(java.sql.Date.valueOf("2025-01-01")),
            pmod(xxhash64(col("id"), lit(1)), lit(365)).cast("int")).as("dt"),
          (col("id") % 97).cast("double").as("v"))
        .repartition(32)
      sink(ev1)
      time("monthsAggGeneral median 1M evts") {
        sink(graft.operators.CalendarWindow.monthsAggGeneral(
          ev1, Seq("user_id"), col("dt"),
          Seq("med" -> expr("percentile(v, 0.5)")), before = 1, after = 0))
      }
    }

    // the new SECONDS-granularity compound-Period path (round-7:
    // months+hours frames) at 1M events — same expansion-join cost
    // model as monthsAggGeneral, plus per-row timestamp boundary
    // arithmetic; pins the constant for the exotic-Period shape
    locally {
      val n1m = n / 10
      val evs = spark.range(n1m).select(
          pmod(xxhash64(col("id")), lit(10000)).as("user_id"),
          timestamp_micros(lit(1735689600000000L) + // 2025-01-01 UTC
            pmod(xxhash64(col("id"), lit(1)), lit(365L * 86400))
              * lit(1000000L)).as("ts"),
          (col("id") % 97).cast("double").as("v"))
        .repartition(32)
      sink(evs)
      time("monthsSecondsAgg c(1mo+6h,-12h) 1M") {
        sink(graft.operators.CalendarWindow.monthsSecondsAgg(
          evs, Seq("user_id"), col("ts"),
          Seq("ws" -> sum(col("v")), "wc" -> count(col("v"))),
          beforeMonths = 1, beforeSecs = 21600,
          afterMonths = 0, afterSecs = -43200))
      }
    }

    // the GENERAL path at FULL probe scale with a WIDE window (round-6
    // verdict item 4): median over a trailing 6-month window at 10M
    // events / 100k users. w̄ ≈ (rows/user/year)·(183/365) ≈ 50 → ~500M
    // joined rows — the honest O(n·w̄) bill of a non-decomposable
    // aggregate over a wide calendar window, distributed as one hash
    // join + one hash agg. The expansion factor to quote is w̄ (≈50
    // here); at 100 TB the SAME factor holds per partition because the
    // join is equi on (group, bin).
    time("monthsAggGeneral median WIDE c(6,0) 10M") {
      sink(graft.operators.CalendarWindow.monthsAggGeneral(
        ev, Seq("user_id"), col("dt"),
        Seq("med" -> expr("percentile(v, 0.5)")), before = 6, after = 0))
    }

    // incremental admission: the 5% "arriving batch" (the planted dup
    // copies) probed against the 95% corpus — each batch doc has exactly
    // one corpus near-dup, so found-pairs ≈ |batch| checks recall while
    // the timing pins the per-batch cost (the corpus is band-indexed,
    // never rescanned pairwise)
    time(s"minhashProbe 5% batch vs ${nDocs / 1000}k corpus") {
      val batch = docs.filter(col("doc_id") % 20 === 0 && col("doc_id") > 0)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0 || col("doc_id") === 0)
      val c = graft.operators.Dedup.minhashProbe(batch, corpus,
        "doc_id", "text", n = 3, k = 32, rowsPerBand = 2,
        minJaccard = 0.5).count()
      println(s"[probe]   incremental near-dups found: $c (planted ~$planted)")
    }

    // asymmetric containment at the same corpus scale: the planted
    // near-dup pairs are near-equal-size, so each appears in BOTH
    // directions (~2x the jaccard pair count); the one-sided prefix
    // filter keeps candidate generation bounded by the CONTAINED side's
    // rare prefix
    time(s"containmentPairs ${nDocs / 1000}k docs (one-sided prefix)") {
      val c = graft.operators.Dedup.containmentPairs(
        docs, "doc_id", "text", n = 3, minContainment = 0.8).count()
      println(s"[probe]   containment pairs found: $c")
    }

    // iterative graph analytics at 10M edges: 3 PageRank rounds over a
    // 1M-node synthetic graph — per round one equi-join + one hash agg,
    // the shape that holds at billions of edges
    time("pagerank 10M edges / 1M nodes / 3 rounds") {
      val nNodes = 1000000L
      val edges = spark.range(n).select(
          pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
          pmod(xxhash64(col("id"), lit(3)), lit(nNodes)).as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val outw = edges.groupBy("src").agg(sum(col("w")).as("ow"))
      val contrib = edges.join(outw, Seq("src"))
        .select(col("src"), col("dst"),
          (col("w").cast("double") / col("ow")).as("p"))
      val nodes = spark.range(nNodes).select(col("id").as("v"))
      var ranks = nodes.withColumn("r", lit(1.0 / nNodes))
      for (_ <- 1 to 3) {
        val in = contrib
          .join(ranks.withColumnRenamed("v", "src"), Seq("src"))
          .groupBy("dst").agg(sum(col("p") * col("r")).as("m"))
        ranks = nodes.join(in.withColumnRenamed("dst", "v"), Seq("v"), "left")
          .select(col("v"), (lit(0.15 / nNodes) +
            lit(0.85) * coalesce(col("m"), lit(0.0))).as("r"))
        ranks = ranks.localCheckpoint(true) // cut lineage per round
      }
      sink(ranks)
    }

    // rolling DISTINCT count at 10M rows / 1M ids / 365 days, w=28:
    // the difference-array rewrite is O(rows) + a 365-row cumsum — the
    // naive forms are a 365×|id-days| interval join or per-window
    // collect_set state
    time("trailingDistinct 10M rows w=28") {
      val rd = spark.range(n).select(
          pmod(xxhash64(col("id")), lit(1000000)).as("uid"),
          (lit(18000L) + pmod(xxhash64(col("id"), lit(11)), lit(365)))
            .as("day"))
        .repartition(32)
      sink(graft.operators.RollingDistinct.trailingDistinct(
        rd, "uid", "day", w = 28, outCol = "uniq28"))
    }

    // interval-OVERLAP join at 5M intervals / 10k keys: binned
    // canonical-bin equi-join — candidate pairs track the true overlap
    // count, never |rows|²
    time("intervalOverlapJoin 5M intervals") {
      val iv = spark.range(n / 2).select(
          pmod(xxhash64(col("id")), lit(10000)).as("k"),
          pmod(xxhash64(col("id"), lit(5)), lit(2500)).as("lo"),
          col("id").as("iid"))
        .withColumn("hi",
          col("lo") + lit(1L) + pmod(xxhash64(col("iid"), lit(9)), lit(14)))
        .repartition(32)
      val pairs = graft.operators.RangeJoin.intervalOverlapJoin(
          iv, iv, Seq("k"), "lo", "hi", "lo", "hi", binWidth = 8)
        .filter(col("iid_1") < col("iid_2"))
      println(s"[probe]   overlap pairs: ${pairs.count()}")
    }

    // interval-overlap under a SKEWED length distribution (round-6
    // verdict item 4): 10M intervals, 99% short (1-15) + 1% long-tail
    // (~1000 wide). A fixed binWidth=8 tuned to the short majority
    // explodes each tail interval into ~125 bins; autoBinWidth (p75 of
    // observed lengths, one approx_percentile agg) re-anchors the
    // width from the data. Probe prints both times + the derived width
    // so README can quote the skew premium and its fix directly.
    locally {
      val ivS = spark.range(n).select(
          pmod(xxhash64(col("id")), lit(10000)).as("k"),
          pmod(xxhash64(col("id"), lit(5)), lit(100000)).as("lo"),
          col("id").as("iid"))
        .withColumn("hi", col("lo") + lit(1L) +
          when(pmod(xxhash64(col("iid"), lit(13)), lit(100)) === 0,
            lit(1000L))
          .otherwise(pmod(xxhash64(col("iid"), lit(9)), lit(14))))
        .repartition(32)
      sink(ivS)
      time("intervalOverlap 10M SKEWED binWidth=8") {
        val pairs = graft.operators.RangeJoin.intervalOverlapJoin(
            ivS, ivS, Seq("k"), "lo", "hi", "lo", "hi", binWidth = 8)
          .filter(col("iid_1") < col("iid_2"))
        println(s"[probe]   skewed overlap pairs (fixed w=8): ${pairs.count()}")
      }
      time("intervalOverlap 10M SKEWED autoBinWidth") {
        val w = graft.operators.RangeJoin.autoBinWidth(ivS, "lo", "hi")
        val pairs = graft.operators.RangeJoin.intervalOverlapJoin(
            ivS, ivS, Seq("k"), "lo", "hi", "lo", "hi", binWidth = w)
          .filter(col("iid_1") < col("iid_2"))
        println(s"[probe]   skewed overlap pairs (auto w=$w): ${pairs.count()}")
      }
    }

    // Z-order layout locality at 10M rows: write the same table 64 files
    // linear-sorted by dim A vs z-ordered on (A, B), then count FILES
    // holding qualifying rows for a narrow filter on B — the dimension
    // the linear layout can't serve. Footer min/max pruning follows file
    // locality, so this is the measurable form of the pruning win.
    locally {
      val zroot = graft.queries.QueryUtil.scratchRoot(spark, "zorder_probe")
      val base = spark.range(n).select(col("id"),
          pmod(xxhash64(col("id")), lit(1024)).as("a"),
          pmod(xxhash64(col("id"), lit(7)), lit(1024)).as("b"))
      val zv = graft.functions.ZOrder.zorder(col("a"), col("b"), 10)
      time("zorder write 64 files (10-bit dims)") {
        base.withColumn("z", zv).repartitionByRange(64, col("z"))
          .sortWithinPartitions("z").drop("z")
          .write.mode("overwrite").parquet(s"$zroot/zord")
      }
      base.repartitionByRange(64, col("a")).sortWithinPartitions("a")
        .write.mode("overwrite").parquet(s"$zroot/linear")
      def filesHit(path: String): Long =
        spark.read.parquet(path).filter(col("b") >= 100 && col("b") < 132)
          .select(input_file_name()).distinct().count()
      time("zorder filter-B file locality") {
        val zHit = filesHit(s"$zroot/zord")
        val lHit = filesHit(s"$zroot/linear")
        println(s"[probe]   files holding b in [100,132): " +
          s"z-order $zHit/64, linear-by-A $lHit/64")
      }
    }

    // token-window chunking: pure narrow ops — the probe pins the
    // per-core throughput ceiling (no shuffle to hide behind)
    time(s"chunkDocuments ${nDocs / 1000}k docs (64/48 stride)") {
      import graft.functions.TextFunctions.tokens
      sink(docs.select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("nt", size(col("toks")).cast("long"))
        .filter(col("nt") > 0)
        .select(col("doc_id"), col("toks"), col("nt"),
          explode(sequence(lit(0L), col("nt") - 1L, lit(48L))).as("st"))
        .select(col("doc_id"), expr("st div 48").as("chunk_id"),
          array_join(slice(col("toks"), (col("st") + 1L).cast("int"),
            lit(64)), " ").as("chunk_text")))
    }

    // SCD2 incremental refresh: the applyBatch claim is that a daily
    // load costs |current rows| + |batch|, not |history| — probe it by
    // materializing the prior table once, then timing a 5%-tail batch
    // apply against the full recompute over the same total log
    {
      val keys = math.max(1L, n / 100)
      val log = spark.range(n).select(
          (col("id") % keys).as("k"), (col("id") / keys).as("ts"),
          pmod(xxhash64(col("id")), lit(5)).cast("string").as("attr"))
        .repartition(32)
      val maxTs = n / keys
      val cut = (maxTs * 95) / 100
      val prior = graft.operators.Scd2.intervals(
        log.filter(col("ts") < cut), Seq("k"), "ts", Seq.empty,
        Seq("attr")).persist()
      prior.count() // materialize OUTSIDE the timed region
      time(s"scd2 FULL recompute (${n / 1000000}M rows)") {
        sink(graft.operators.Scd2.intervals(log, Seq("k"), "ts",
          Seq.empty, Seq("attr")))
      }
      time("scd2 applyBatch (5% tail vs materialized prior)") {
        sink(graft.operators.Scd2.applyBatch(prior,
          log.filter(col("ts") >= cut), Seq("k"), "ts", Seq.empty,
          Seq("attr")))
      }
      // the windowed work alone (currents ∪ batch — what applyBatch
      // shuffles; the full-table number above also pays the NARROW
      // pass-through of closed history into the sink, which a real
      // refresh avoids by writing the delta / current partition only)
      time("scd2 applyBatch delta-only windowed work") {
        sink(graft.operators.Scd2.intervals(
          prior.filter(col("is_current"))
            .select(col("k"), col("ts"), col("attr"))
            .unionByName(log.filter(col("ts") >= cut)),
          Seq("k"), "ts", Seq.empty, Seq("attr")))
      }
      // refresh vs HISTORY SIZE (round-9 verdict item 7): same key set,
      // same 5% batch, history 5× shorter — applyBatch's windowed work
      // is currents ∪ batch, and |currents| = |keys| regardless of how
      // deep the closed history is, so the two timings should be flat
      // while FULL recompute above scales with the log
      val priorShort = graft.operators.Scd2.intervals(
        log.filter(col("ts") < cut / 5), Seq("k"), "ts", Seq.empty,
        Seq("attr")).persist()
      priorShort.count()
      time("scd2 applyBatch (same batch, history/5)") {
        sink(graft.operators.Scd2.intervals(
          priorShort.filter(col("is_current"))
            .select(col("k"), col("ts"), col("attr"))
            .unionByName(log.filter(col("ts") >= cut)),
          Seq("k"), "ts", Seq.empty, Seq("attr")))
      }
      priorShort.unpersist()
      prior.unpersist()
    }

    // Partial-aggregate incremental refresh (agg_incremental_refresh's
    // claim, probed at scale — round-9 verdict item 7): merge(state,
    // batch) re-aggregates |groups| + |batch-groups| PARTIAL rows, so
    // refresh cost must be flat in history depth while the full
    // recompute pays the whole log every day. 10k groups, 0.5M-row
    // batch, history 2M vs 10M.
    {
      val groups = 10000L
      def rawLog(rows: Long) = spark.range(rows).select(
          (col("id") % groups).as("g"),
          (col("id") % 1000).as("pc"))
        .repartition(32)
      def part(d: org.apache.spark.sql.DataFrame) =
        d.groupBy("g").agg(sum("pc").as("sum_pc"), count(lit(1)).as("c"))
      val batchRaw = rawLog(500000L)
      val batchPart = part(batchRaw).persist()
      batchPart.count()
      for (h <- Seq(n / 5, n)) {
        val state = part(rawLog(h)).persist()
        state.count() // the maintained rollup — materialized, not timed
        time(s"agg refresh MERGE (hist ${h / 1000000}M, batch 0.5M)") {
          sink(state.unionByName(batchPart).groupBy("g")
            .agg(sum("sum_pc").as("sum_pc"), sum("c").as("c")))
        }
        time(s"agg FULL recompute (hist ${h / 1000000}M + batch)") {
          sink(part(rawLog(h).unionByName(batchRaw)))
        }
        state.unpersist()
      }
      batchPart.unpersist()
    }

    // Frontier-delta BFS vs full-closure (round-9 — graph_khop_reach's
    // shape, measured where it matters): ring-lattice graph on 200k
    // vertices (edges to ±1, ±7, ±49 mod n ⇒ degree 6, diameter ≫
    // depth), 1000 seeds, depth 6. Per-seed reach grows ~linearly per
    // hop (~100-300 new vertices/round) while the CLOSED set keeps all
    // prior rounds — the full-closure form re-joins and re-distincts
    // the whole closed set every round (join input ∝ rounds²·Δ), the
    // delta form only the last round's additions (∝ Δ). Both
    // localCheckpoint per round, so the comparison is join-input size,
    // not lineage. Identical results asserted.
    {
      val nV = 200000L
      val verts = spark.range(nV).select(col("id").as("a"))
      val e2 = Seq(1L, 7L, 49L).map(k =>
          verts.select(col("a").as("v"), pmod(col("a") + k, lit(nV)).as("nb")))
        .reduce(_ unionAll _)
      val und = e2.unionAll(e2.select(col("nb").as("v"), col("v").as("nb")))
        .localCheckpoint()
      val seeds = spark.range(1000).select((col("id") * 199L).as("v"))
      val depth = 6
      var full: org.apache.spark.sql.DataFrame = null
      time(s"khop FULL-closure (200k ring, depth $depth)") {
        var reach = seeds.select(col("v"), col("v").as("r")).localCheckpoint()
        for (_ <- 1 to depth)
          reach = reach.unionByName(
              reach.join(und.select(col("v").as("r"), col("nb")), Seq("r"))
                .select(col("v"), col("nb").as("r")))
            .distinct().localCheckpoint()
        full = reach
        sink(reach)
      }
      var delta: org.apache.spark.sql.DataFrame = null
      time(s"khop FRONTIER-delta (200k ring, depth $depth)") {
        delta = graft.queries.GraphQueries.khopReach(seeds, und, depth)
        sink(delta)
      }
      val n1 = full.count(); val n2 = delta.count()
      require(n1 == n2 && full.except(delta).isEmpty,
        s"delta BFS diverged from full closure: $n1 vs $n2 pairs")
      println(s"[probe]   khop pairs (both forms): $n1")
    }

    // Rolling order statistics at the gate's w=7, full 10M rows —
    // OLD vs NEW on the same window (round-11, closing the r10
    // verdict's stale-evidence item). OLD: percentile().over — a
    // TypedImperativeAggregate, so WindowExec re-grows its buffer
    // per sliding output row (O(w) scan + per-row allocation +
    // boxing). NEW (the shipped window_rolling_median form,
    // ExtendedQueries): w−1 lag columns in ONE WindowExec pass,
    // array_compact for the growing-frame head, sort_array, and the
    // exact 0-based dyadic interpolation in plain codegen column
    // math — same asymptotics, zero per-row buffer churn. Equality
    // is ASSERTED below, not assumed; long-sum moments stay as the
    // O(1)-per-row reference point.
    {
      val w = Window.partitionBy(col("flag")).orderBy(col("id"))
        .rowsBetween(-6, 0)
      val wl = Window.partitionBy(col("flag")).orderBy(col("id"))
      val q = col("v").cast("long")
      var oldMed: org.apache.spark.sql.DataFrame = null
      time(s"rolling median OLD percentile().over (${n / 1000000}M)") {
        oldMed = df.select(col("id"),
          percentile(q, lit(0.5)).over(w).as("m"))
        sink(oldMed)
      }
      var newMed: org.apache.spark.sql.DataFrame = null
      time(s"rolling median NEW lag-array (same window)") {
        val buf = sort_array(array_compact(array(
          q +: (1 to 6).map(k => lag(q, k).over(wl)): _*)))
        val pos = lit(0.5) * (size(col("buf")) - 1).cast("double")
        val flo = floor(pos)
        val f = pos - flo
        val lo = element_at(col("buf"), flo.cast("int") + 1).cast("double")
        val hi = element_at(col("buf"),
          ceil(pos).cast("int") + 1).cast("double")
        newMed = df.select(col("id"), buf.as("buf"))
          .select(col("id"),
            (lo * (lit(1.0) - f) + hi * f).as("m"))
        sink(newMed)
      }
      // Bit-equality on a 1% deterministic sample (full except() would
      // re-run both plans a third time): small-int inputs + dyadic
      // p=0.5 make both interpolations IEEE-exact, so == is fair.
      val samp = oldMed.filter(pmod(xxhash64(col("id")), lit(100)) === 0)
        .join(newMed.filter(pmod(xxhash64(col("id")), lit(100)) === 0)
          .withColumnRenamed("m", "m2"), Seq("id"))
      val diverged = samp.filter(col("m") =!= col("m2")).count()
      require(diverged == 0,
        s"lag-array rolling median diverged from percentile().over on $diverged sampled rows")
      println(s"[probe]   old-vs-new median bit-equal on sampled rows (diverged=$diverged)")
      time(s"rolling long-sum moments w=7 (same window)") {
        sink(df.select(col("id"), sum(q).over(w).as("s1"),
          sum(q * q).over(w).as("s2")))
      }
    }

    // Triangle counting: 1M-edge power-law-ish graph (vertex ids from
    // xxhash64 mod a zipf-ish split: 10k hub-heavy + 1M sparse tail).
    // The degree-ordered orientation is what keeps the wedge join
    // bounded: oriented out-degree ≤ O(sqrt E) even at the hubs.
    {
      val e = math.max(1000000L, n / 10)
      // hub core [0, 2000) with ~500 avg degree against a uniform 1M
      // tail; ranges OVERLAP (a disjoint split would be bipartite —
      // zero triangles), so core-core edges close wedges at the hubs
      val raw = spark.range(e).select(
          pmod(xxhash64(col("id")), lit(2000)).as("x"),
          pmod(xxhash64(col("id") + 7), lit(1000000)).as("y"))
        .repartition(32)
      val und = raw.select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint()
      time(s"triangleCounts (${e / 1000000}M-edge hub graph)") {
        sink(graft.queries.GraphQueries.triangleCounts(und))
      }
    }

    // Common-neighbor link scoring (round-10 —
    // graph_common_neighbors_ppjoin): exact wedge join vs the PPJoin
    // prefix-filter sibling, measured on the shape that separates
    // them — a graph with two MEGA-hubs everyone touches plus small
    // community hubs that carry the real similarity signal. The wedge
    // join pays Σ deg(u)² and the mega-hubs dominate it (~1e8 wedge
    // pairs here); in the prefix form a mega-hub neighbor is a
    // maximally-FREQUENT token, so the rarest-first global order
    // pushes it out of every prefix and the candidate join only ever
    // meets on community-hub tokens (~1e7 candidates). Same answer,
    // asserted; candidate counts printed so the bound is a measured
    // number, not a claim.
    {
      val spokes = 20000L
      val megas = 2
      val comms = 200
      // each spoke: 1 mega-hub + 2 community hubs (ids: megas/comm
      // pools below 1000, spokes from 1000 up ⇒ a<b normalization is
      // hub-first)
      val sp = spark.range(spokes)
      val edges = sp.select(col("id"),
          explode(array(
            pmod(xxhash64(col("id")), lit(megas)),
            pmod(xxhash64(col("id") + 1327), lit(comms)) + megas,
            pmod(xxhash64(col("id") + 2654), lit(comms)) + megas))
            .as("h"))
        .select(col("h").as("a"), (col("id") + 1000).as("b"))
        .distinct()
        .filter(col("a") =!= col("b"))
        .localCheckpoint()
      val e2 = edges.select(col("a").as("v"), col("b").as("nb"))
        .unionByName(edges.select(col("b").as("v"), col("a").as("nb")))
      val wedgeCount = e2.select(col("v").as("u"), col("nb").as("p"))
        .join(e2.select(col("v").as("u"), col("nb").as("q")), Seq("u"))
        .filter(col("p") < col("q")).count()
      // τ derived from the PRODUCTION constants (r10 advice): both the
      // exact-side Jaccard filter cn/(dp+dq−cn) ≥ num/den — cross-
      // multiplied to cn·(den+num) ≥ num·(dp+dq) — and the prefix call
      // read GraphQueries.CnNum/CnDen, so retuning τ retunes the probe.
      val num = graft.queries.GraphQueries.CnNum
      val den = graft.queries.GraphQueries.CnDen
      var exact: org.apache.spark.sql.DataFrame = null
      time(s"common-neighbors EXACT wedge (${spokes / 1000}k spokes)") {
        exact = graft.queries.GraphQueries.commonNeighborsExact(edges)
          .filter(col("cn") * (den + num) >= lit(num) * (col("dp") + col("dq")))
          .localCheckpoint()
      }
      var pp: org.apache.spark.sql.DataFrame = null
      time(s"common-neighbors PPJOIN prefix (same graph)") {
        pp = graft.queries.GraphQueries.commonNeighborsPrefix(edges, num, den)
          .localCheckpoint()
      }
      val n1 = exact.count(); val n2 = pp.count()
      require(n1 == n2 && exact.except(pp).isEmpty,
        s"ppjoin diverged from exact wedge: $n1 vs $n2 pairs")
      val posts = edges.select(col("a").as("v"), col("b").cast("long").as("s"))
        .unionByName(edges.select(col("b").as("v"), col("a").cast("long").as("s")))
      val candCount = graft.queries.GraphQueries
        .cnPrefixCandidates(posts, num, den).count()
      println(s"[probe]   wedge pairs enumerated (exact): $wedgeCount")
      println(s"[probe]   prefix candidates verified (ppjoin): $candCount")
      println(s"[probe]   surviving scored pairs (both forms): $n1")
    }
    spark.stop()
  }
}
