package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf0.1 → sf1 scaling probe (r07 verdict item 6): times the most
  * expensive STEADY batch oracle keys at sf1 (6M lineitem / 1M events —
  * TPC-H sf1 scale) against the same keys at sf0.1 IN THE SAME SESSION,
  * so the per-key ratio cancels box noise. The driver ships no sf1
  * fixtures, so the probe materializes one under /tmp by 10× key-shifted
  * union of sf0.1 — the TPC-H scaling model (more keys, same per-key
  * density, same time span):
  *
  *   - TPC-H tables: every key column shifted by copy × (max+1) —
  *     10× orders/customers/suppliers/parts, so per-group row counts
  *     (window partitions, join fan-outs) stay constant like real sf1;
  *     nation/region stay fixed dims, as in TPC-H.
  *   - events: event_id/user_id shifted — 10× users, same span, so
  *     per-user windows keep their density (calendar windows widen
  *     their per-window row count ~10×, which is exactly what a fixed
  *     7-year span at 10× data means — the honest scaling for
  *     window_range_months_median's declared O(n·w̄) path).
  *   - documents: doc_id shifted AND every token prefixed with the copy
  *     tag — cross-copy shingle overlap is ZERO by construction, so the
  *     corpus is 10 independent same-shape corpora: dup-pair and
  *     cluster counts scale exactly 10×, not quadratically (10 exact
  *     copies of each doc would mean 45 cross-copy pairs per doc — a
  *     workload-shape change, not a scale-up).
  *   - embeddings: vec_id shifted, vector circularly rotated by the
  *     copy index — rotations of high-dim vectors are ~orthogonal, so
  *     near-dup structure stays within-copy, same 10-independent-
  *     corpora argument.
  *
  * Output: one JSON line (and SF1PROBE.json) with per-key sf0.1/sf1
  * seconds and the ratio; ratio ≈ 10 is linear scaling for a 10× input
  * (per-key notes in README flag the declared superlinear designs).
  */
object Sf1Probe {

  /** Most expensive steady batch keys of BENCH_r07 (streaming keys
    * excluded: their cost is micro-batch machinery, and their staged
    * fixtures assume the driver sf dirs). */
  val Keys: Seq[String] = Seq(
    "join_interval_overlap", "graph_pagerank", "window_range_months_median",
    "dedup_clusters", "embedding_dup_clusters", "agg_approx",
    "dedup_containment", "window_rolling_corr", "order_cumsum_scaled",
    "join_aqe_skew",
    // round-8 second-sweep analytics (the new top steady batch keys)
    "graph_triangles", "ts_interval_active", "agg_winsorized",
    "window_rolling_median", "window_rolling_skew", "ts_outlier_mad",
    "ts_interpolate", "window_cume_distinct",
    // round-9 additions: the star-join headline + the new window/
    // resample/index keys (mm staging keys excluded — their cost is
    // the fixture write, scoped per-session)
    "join_star_schema", "window_rolling_slope", "ts_resample_ohlc",
    "text_inverted_index", "attribution_last_touch", "ts_burst_detect",
    "text_keyword_topk", "sample_balanced", "curate_dataset_report",
    // round-10: the prefix-filter scale sibling of graph_common_neighbors
    "graph_common_neighbors_ppjoin",
    // round-11: the wide-w trailing-stats key, the CUSUM window identity,
    // and the heavy text/mm additions
    "window_rolling_std_wide", "ts_changepoint_cusum",
    "text_dedup_passages", "text_bigram_logprob", "mm_phash_dedup",
    // round-12: the wide-w extrema key, the iterated BPE trainer,
    // and the forced distributed-CC scale path
    "window_rolling_minmax_wide", "text_bpe_merge_rounds",
    "dedup_clusters_distributed", "graph_shortest_path_k",
    "agg_weighted_median",
    // round-13 continuation: the new rule-rewritten distinct-window
    // keys (difference-array scaling), the corpus PMI miner, and the
    // windowed funnel
    "window_rolling_sumdistinct_rule", "window_rolling_avgdistinct_rule",
    "text_collocations", "funnel_window_gap",
    "window_ewma_irregular", "join_scd2_asat",
    "window_running_distinct_rule", "sample_poisson_bootstrap",
    "window_rolling_mixed_rule",
    // round-14: the DESC (leading-window) rule keys
    "window_rolling_distinct_desc_rule",
    "window_rolling_avgdistinct_desc_rule",
    // round-15: the ROWS-frame lag-array arm, the NULLS LAST
    // cumulative mirror arm, and the months+sub-day .complete gate
    "window_rowsframe_distinct_rule",
    "window_running_distinct_nullslast_rule",
    "window_running_distinct_desc_rule",
    "window_rowsframe_distinct_centered_rule",
    "window_complete_months_hours",
    // round-16: the strictly-offset range-frame arm, the
    // expression-target widening, cumulative-to-offset, and the
    // multi-argument struct synthesis
    "window_rangeframe_distinct_offset_rule",
    "window_running_distinct_expr_rule",
    "window_running_distinct_offset_rule",
    "window_rolling_distinct_pair_rule",
    // round-17: the sparse/interval rule claims, the prefix-doubling
    // suffix-array family (barrier-bound — the ratio IS the claim),
    // and the grouped HLL approx/exact distinct pairing
    "window_rolling_distinct_sparse_rule",
    "window_rangeframe_distinct_interval_rule",
    "text_suffix_ranks", "text_sa_repeat_spans", "text_sa_dedup_docs",
    "window_trailing_approx_distinct")

  def buildSf1(spark: SparkSession, src: String, dst: String): Unit =
    buildScaled(spark, src, dst, copies = 10, tag = "c",
      withEmbeddings = true)

  /** Per-copy deterministic SIGN-FLIP embedding transform for SECOND-hop
    * scaling (round 15, r14 verdict item 5): composed circular rotations
    * collide (hop-1 copy i + hop-2 copy j lands at rotation i+j, so
    * (i,j)≠(i',j') with i+j = i'+j' would be EXACT duplicates — a
    * workload-shape change). Flipping dimension k of copy i iff
    * `hash(i, k) % 2 = 0` is (a) identity-free for i = 0 (copy 0 stays
    * bit-identical — the differential slice gates depend on it),
    * (b) incoherent BETWEEN hop-2 copies (sign patterns differ on ~half
    * the dimensions, cos ≈ ±Σ±x²/‖x‖² ~ N(0, 1/√dim)) and (c)
    * composable with hop-1 rotations (a flipped rotation is still
    * incoherent with every other flipped rotation). Cosine STRUCTURE
    * within each copy is exactly preserved (a global sign flip per
    * dimension is an isometry). */
  private def signFlipped(i: Int): String =
    s"transform(embedding, (x, k) -> " +
      s"CASE WHEN hash($i, k) % 2 = 0 THEN x ELSE -x END)"

  /** Generalized key-shifted scaling (round-14: Sf10Probe composes it
    * a second time, sf1 → sf10). `tag` MUST differ per hop: sf1's
    * copies already carry `c{i}_` token prefixes, so re-applying `c`
    * would make sf10-copy-j of an sf1-copy-0 doc an EXACT TEXT
    * duplicate of sf10-copy-0's sf1-copy-j doc (cross-copy dup
    * clusters — a workload-shape change, not a scale-up); a fresh
    * prefix keeps every copy's token space disjoint. Embeddings are
    * optional for the same reason in reverse: composed rotations
    * collide (i+j ≡ i'+j'), so a second hop only builds them when the
    * probed keys don't read them. */
  def buildScaled(spark: SparkSession, src: String, dst: String,
      copies: Int, tag: String, withEmbeddings: Boolean,
      embedSignFlip: Boolean = false): Unit = {
    val ready = new java.io.File(dst, "_READY")
    if (ready.isFile) return
    new java.io.File(dst).mkdirs()

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    /** max+1 of an int64 key — the per-copy shift step. */
    def step(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1L

    /** 10 copies with each listed key column shifted copy×step. */
    def shifted(df: DataFrame, keys: Seq[String]): DataFrame = {
      val steps = keys.map(k => k -> step(df, k)).toMap
      (0 until copies).map { i =>
        keys.foldLeft(df) { case (d, k) =>
          d.withColumn(k, col(k) + lit(i * steps(k)))
        }
      }.reduce(_ unionAll _)
    }

    write(shifted(t("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(shifted(t("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(shifted(t("customer"), Seq("c_custkey")), "customer")
    write(shifted(t("supplier"), Seq("s_suppkey")), "supplier")
    write(shifted(t("part"), Seq("p_partkey")), "part")
    write(t("nation"), "nation")
    write(t("region"), "region")
    write(shifted(t("events"), Seq("event_id", "user_id")), "events")

    val docs = t("documents")
    val docStep = step(docs, "doc_id")
    write((0 until copies).map { i =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(i * docStep))
      if (i == 0) d
      // token-space remap: zero cross-copy shingle overlap
      else d.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", s"$tag${i}_$$1"))
    }.reduce(_ unionAll _), "documents")

    if (withEmbeddings) {
      val emb = t("embeddings")
      val vecStep = step(emb, "vec_id")
      write((0 until copies).map { i =>
        val d = emb.withColumn("vec_id", col("vec_id") + lit(i * vecStep))
        if (i == 0) d
        // hop-1: circular rotation by i (~orthogonal to the original);
        // hop-2 (embedSignFlip): per-copy deterministic sign flips —
        // rotations don't compose across hops (collisions), sign
        // patterns do (see signFlipped's scaladoc)
        else if (embedSignFlip)
          d.withColumn("embedding", expr(signFlipped(i)))
        else d.withColumn("embedding",
          expr(s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
            s"slice(embedding, 1, $i))"))
      }.reduce(_ unionAll _), "embeddings")
    }

    ready.createNewFile(): Unit
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    System.err.println("[sf1probe] building sf1 fixture (10x sf0.1)...")
    buildSf1(spark, sf01, sf1)

    // single-key refresh after a rewrite: probe only the listed keys and
    // MERGE into the existing SF1PROBE.json (other keys' code unchanged)
    val only = LocalSession.onlyKeys("sf1probe", Keys)
    val probeKeys = only.fold(Keys)(o => Keys.filter(o))

    // warmup (codegen/JIT) at the smallest sf, like Bench
    probeKeys.foreach { k =>
      try SparkEntry.queries(k)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    System.gc()

    def time(k: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // two passes per (key, dir), min — same stall discipline as Bench
    def best(k: String, dir: String): Double = {
      val a = time(k, dir); val b = time(k, dir)
      math.min(a, b)
    }
    def r3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val rows = probeKeys.map { k =>
      val t01 = best(k, sf01)
      val t1 = best(k, sf1)
      System.err.println(
        f"[sf1probe] $k%-28s sf0.1 ${t01}%7.2fs   sf1 ${t1}%7.2fs   " +
          f"ratio ${t1 / t01}%5.2fx")
      k -> (t01, t1)
    }
    val qs = rows.map { case (k, (a, b)) =>
      s"""\"$k\":{\"sf01\":${r3(a)},\"sf1\":${r3(b)},\"ratio\":${r3(b / a)}}"""
    }.mkString(",")
    if (only.isEmpty) {
      val line = s"""{"metric":"sf1probe","unit":"sec","keys":{$qs}}"""
      println(line)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("SF1PROBE.json"), line + "\n")
      catch { case _: Throwable => () }
    } else {
      // partial run: print the fragment; the caller merges it into
      // SF1PROBE.json (tools or a one-line python) so the artifact stays
      // complete while each key's numbers reflect shipped code
      println(s"""{"metric":"sf1probe_partial","keys":{$qs}}""")
    }
    spark.stop()
  }
}
