package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries → PLANS.md.
  * The plan-quality ledger: reviewers (and future rounds) can check
  * pushdown, pruning, single-window collapse, broadcast choices, and
  * codegen spans without re-running anything. */
object Plans {

  /** The headline plan ledger: every key whose physical plan is dumped
    * to PLANS.md and shape-pinned by PLAN_FINGERPRINTS.json (the
    * round-11 fingerprint gate — PlanFingerprintSpec). */
  val headline: Seq[String] = Seq(
      "window_range_index", "window_multi_expr", "order_cumsum",
      "dedup_jaccard", "dedup_minhash", "ann_cosine_topk", "ann_ivf_topk",
      "asof_join_daily", "text_tfidf", "agg_cube", "join_anti",
      "window_product", "dedup_simhash", "dedup_editdist", "topk_per_group",
      "skew_salted_agg", "sessionize_gap", "asof_fwd_daily", "pivot_wide",
      "sample_stratified", "order_global_cumsum", "mm_resize",
      "window_tumbling_day", "window_session_native", "resample_gapfill",
      "sink_partitioned_parquet", "agg_regression", "window_range_months",
      "order_cumsum_scaled", "window_range_months_offset",
      "quality_filter_p75", "window_range_numeric", "agg_approx",
      "embedding_dup_pairs_lsh", "ann_knn_join_ivf", "pack_sequences",
      "window_range_months_std", "window_range_months_median",
      "window_range_months_days", "window_range_weeks", "decontam_bloom",
      "chunk_documents", "text_dup_spans", "sink_bucketed_join",
      "curate_chunk_pipeline", "shuffle_shards", "text_prune_vocab",
      "text_bm25", "text_unigram_logprob", "layout_zorder",
      "dedup_incremental", "dedup_containment", "graph_pagerank",
      "embedding_kmeans", "window_rolling_corr", "text_source_kl",
      "sample_weighted", "asof_nearest_daily", "agg_heavyhitters",
      "sink_upsert_snapshot", "window_ewma", "source_merge_schema",
      "window_rolling_distinct", "window_rolling_distinct_by",
      "join_interval_overlap", "cdc_snapshot_diff", "bucketize_quantiles",
      "ts_seasonal_dow", "window_range_years",
      "window_range_months_strict", "window_range_months_hours",
      "agg_moments", "scd2_intervals", "scd2_incremental", "ts_twap",
      "cohort_retention", "funnel_steps", "window_orderby_neq_index",
      "window_rolling_median", "window_rolling_skew", "graph_triangles",
      "ts_interpolate", "dq_checks", "agg_incremental_refresh",
      "cdc_apply", "agg_entropy", "ts_outlier_mad", "window_pct_rank",
      "graph_label_prop", "graph_khop_reach", "ts_interval_active",
      "agg_winsorized", "window_cume_distinct", "graph_common_neighbors",
      "join_star_schema", "text_inverted_index", "window_rolling_slope",
      "ts_resample_ohlc", "mm_codec_dispatch", "attribution_last_touch",
      "curate_dataset_report", "text_keyword_topk", "sample_balanced",
      "ts_burst_detect", "graph_common_neighbors_ppjoin",
      "sample_temperature", "ann_ivf_recall",
      // round-11 second batch
      "dedup_semantic", "ann_hybrid_rrf", "dedup_url",
      "graph_resource_alloc", "text_hash_classifier",
      "text_bpe_pair_counts",
      // round-11 third batch
      "text_dedup_passages", "text_bigram_logprob", "mm_phash_dedup",
      "window_rolling_std_wide", "ts_changepoint_cusum",
      "window_rolling_minmax", "agg_covar_matrix", "text_jaccard_knn",
      "ts_seasonal_decompose", "ts_anomaly_stl",
      // round-12
      "window_rolling_minmax_wide", "text_bpe_merge_rounds",
      "dedup_clusters_distributed", "graph_shortest_path_k",
      "ts_xcorr_lagged", "source_json_corrupt", "agg_weighted_median",
      "window_linear_decay",
      // round-13
      "ann_ivfpq_topk", "ann_ivfpq_recall", "window_rolling_distinct_rule",
      "window_rolling_distinct_by_rule",
      "window_rolling_sumdistinct_rule", "text_collocations",
      "funnel_window_gap", "window_rolling_avgdistinct_rule",
      "window_ewma_irregular", "join_scd2_asat",
      "window_running_distinct_rule", "sample_poisson_bootstrap",
      "window_rolling_mixed_rule",
      // round-14: the DESC (leading-window) widening of the rule
      "window_rolling_distinct_desc_rule",
      "window_rolling_avgdistinct_desc_rule",
      // round-15: the ROWS-frame lag-array arm + the NULLS LAST
      // cumulative mirror arm + the months+sub-day .complete gate
      "window_rowsframe_distinct_rule",
      "window_running_distinct_nullslast_rule",
      "window_running_distinct_desc_rule",
      "window_rowsframe_distinct_centered_rule",
      "window_complete_months_hours",
      // round-16: the strictly-offset range-frame arm (shifted-bucket
      // join), the expression-target widening, cumulative-to-offset,
      // and the multi-argument struct synthesis
      "window_rangeframe_distinct_offset_rule",
      "window_running_distinct_expr_rule",
      "window_running_distinct_offset_rule",
      "window_rolling_distinct_pair_rule",
      // round-17: the sparse observed-bucket lowering (span-independent
      // spine) and the TIMESTAMP/DayTimeInterval frame claim
      "window_rolling_distinct_sparse_rule",
      "window_rangeframe_distinct_interval_rule",
      // round-17 second batch: the prefix-doubling suffix-array family
      // (the ranks plan is a localCheckpoint scan — the iterative
      // lineage is truncated by design, like dedup_clusters — so the
      // dumpable evidence is the spans pipeline built on top of it)
      "text_sa_repeat_spans", "text_sa_dedup_docs",
      // round-17: HLL-sketch approx trailing distinct beside the
      // exact rewrite (fixed-size sketch state at scale)
      "window_trailing_approx_distinct")
    // join_runtime_bloom / join_dpp_prune / join_aqe_skew are NOT
    // listed: the snapshot pattern (collect-inside-conf-scope) makes
    // their returned frame a LocalTableScan — the feature evidence is
    // the require() on their own execution, not a dumpable plan

  /** Keys whose `queries()` CONSTRUCTION executes jobs (the
    * collect-inside-conf-scope feature gates) — their returned frame
    * is a LocalTableScan snapshot, so there is no plan to pin from the
    * inventory sweep. Round-13 (r12 verdict item 6): their INNER
    * frames are fingerprinted anyway via [[scopedFingerprints]]. */
  val nonDumpable: Set[String] =
    Set("join_runtime_bloom", "join_dpp_prune", "join_aqe_skew")

  /** Fingerprints for the three runtime-feature keys: each executes
    * its frame inside queries() (snapshot pattern), so the ledger pins
    * the SAME inner frame pre-execution, built under the SAME conf
    * scope the gate key uses — AQE wrappers are normalized away by
    * PlanFingerprint.shape, leaving the stable skeleton (scan + join
    * type + the planted runtime-filter/pruning subquery marker). */
  val scopedFingerprints: Map[String, (SparkSession, String) => String] =
    Map(
      "join_aqe_skew" -> ((s, dir) =>
        graft.queries.ExtendedQueries.aqeSkewScoped(s, dir)(j =>
          graft.plans.PlanFingerprint.of(j))),
      "join_runtime_bloom" -> ((s, dir) =>
        graft.queries.ExtendedQueries.bloomScoped(s, dir)(j =>
          graft.plans.PlanFingerprint.of(j))),
      "join_dpp_prune" -> ((s, dir) =>
        graft.plans.PlanFingerprint.of(
          graft.queries.FormatQueries.dppFrame(s, dir))))

  /** The fingerprint gate's domain (round-12: widened from the
    * curated `headline` ledger to EVERY non-streaming key) — the
    * committed PLAN_FINGERPRINTS.json pins the normalized plan shape
    * of each, so no batch key can change shape silently; `headline`
    * remains the human-readable PLANS.md subset. */
  def fingerprinted: Seq[String] =
    SparkEntry.queries.keys.toSeq
      .filterNot(graft.queries.TimeSeriesQueries.streamingKeys)
      .filterNot(nonDumpable)
      .sorted

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = LocalSession(4)

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Things to check: ")
    sb.append("`PushedFilters`/`ReadSchema` at every scan, ONE `Window` per ")
    sb.append("shared spec, `BroadcastExchange`/`BroadcastHashJoin` on small ")
    sb.append("sides, `*(n)` whole-stage-codegen prefixes on scalar stages, ")
    sb.append("no `CartesianProduct` outside the intentional broadcast ")
    sb.append("cross joins in ANN brute force.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote ${headline.size} plans to $out")
    spark.stop()
  }
}
