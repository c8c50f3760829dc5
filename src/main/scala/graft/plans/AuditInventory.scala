package graft.plans

/** The PlanAudit sweep contract: WHICH keys get linted and WHAT each is
  * allowed to raise. PlanAuditSpec iterates `sweepKeys` and asserts
  * every finding above Info severity is in `declaredAllows(key)` — so
  * the 180 batch plans that used to be eyeball-audited in PLANS.md are
  * a failing test the moment a regression (a dropped `broadcast()`, an
  * accidentally-global window) changes their shape.
  *
  * Exceptions are DECLARED HERE, one line per key, with the reason —
  * the escape hatch is visible in review, not buried in a spec.
  */
object AuditInventory {

  /** Every non-streaming key in the inventory. Streaming keys execute a
    * full micro-batch pipeline inside the query constructor and return
    * a memory-sink scan — there is no lintable batch plan; their scale
    * story is the scoped `shuffle.partitions` + watermark design
    * documented at StreamingOps.scala. The exclusion is the EXPLICIT
    * registry `TimeSeriesQueries.streamingKeys` (not a name-substring
    * filter), so a future non-streaming key whose name contains
    * "stream" cannot silently escape the lint gate; the require pins
    * the registry against key renames. */
  def sweepKeys: Seq[String] = {
    val streaming = graft.queries.TimeSeriesQueries.streamingKeys
    val all = graft.SparkEntry.queries.keySet
    require(streaming.subsetOf(all),
      s"streamingKeys not in inventory: ${streaming.diff(all).toSeq.sorted}")
    all.toSeq.sorted.filterNot(streaming)
  }

  /** Declared-intentional Warn/Error findings, key → allowed rule ids.
    *
    * Two families of exceptions remain (PlanAudit itself recognizes
    * 1-row-aggregate broadcast sides statically — they downgrade to
    * `bnl_scalar`/Info, so that shape needs no allow and a regression to
    * a genuinely unbounded form still Warns):
    *
    *  - ANN exact baselines (`bnl_join`): the brute-force cosine top-k
    *    keys are DECLARED O(n²) oracles for the IVF/PQ/LSH scale paths
    *    (SURVEY §2.5); their cross join broadcasts a capped query set,
    *    not a 1-row frame, so the static downgrade correctly does not
    *    fire.
    *  - Bounded-domain global windows (`global_window`): a window over
    *    an already-aggregated axis whose cardinality is calendar/domain
    *    sized (~2.5k distinct days, 30 sketch days), not data-sized —
    *    each key's comment carries the argument. `window_noby_frame` is
    *    the reference-fidelity path-2 key (25 rows by construction);
    *    its scale path is `order_global_cumsum`.
    */
  val declaredAllows: Map[String, Set[String]] = Map(
    "ann_cosine_topk" -> Set("bnl_join"),
    "ann_knn_join" -> Set("bnl_join"),
    "ann_pq_topk" -> Set("bnl_join"),
    // recall@k audit: the exact arm is the brute-force scan BY DESIGN —
    // recall estimation needs ground truth on a bounded query sample,
    // O(|sample| · corpus) regardless of corpus size (r11)
    "ann_ivf_recall" -> Set("bnl_join"),
    // same recall-audit shape for the IVF-PQ composition (r13): the
    // exact arm's bounded-query brute-force scan is the ground truth
    "ann_ivfpq_recall" -> Set("bnl_join"),
    "embedding_dup_pairs" -> Set("bnl_join"),
    // hybrid fusion's vector arm is the gated exact baseline
    // (cosineTopK on a 10-query broadcast side); the fusion itself is
    // rank-only, so the IVF arm drops in unchanged at corpus scale
    "ann_hybrid_rrf" -> Set("bnl_join"),
    "ts_pct_change" -> Set("global_window"),
    "window_rolling_distinct_approx" -> Set("global_window"),
    "window_noby_frame" -> Set("global_window"))
}
