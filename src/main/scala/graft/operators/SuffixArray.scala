package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix array over a tokenized document corpus, built by
  * prefix doubling (Manber–Myers re-expressed as shuffle-native Spark
  * passes; cf. the MPI formulation of Flick & Aluru, "Parallel
  * distributed memory construction of suffix and longest common prefix
  * arrays", SC'15). This is the scale path for substring-level
  * training-data dedup (Lee et al., "Deduplicating Training Data Makes
  * Language Models Better"): the reference engine at
  * `/root/reference/R/mutate.R` has no corpus-level operator at all, so
  * this family is part of the north-star pipeline extension surface,
  * not a port.
  *
  * Shape: suffixes are taken at TOKEN boundaries (every word start) but
  * ranked in full CHARACTER lexicographic order of the remaining text.
  * For a single-space-tokenized corpus the two orders coincide: ' '
  * (0x20) sorts below every in-token character, so comparing token
  * sequences elementwise with shorter-prefix-first equals comparing the
  * space-joined strings — which is what the DuckDB oracle does with a
  * plain `ORDER BY substr(text, pos+1)`. Token alignment cuts the
  * position universe ~6x (avg token ~5.7 chars here) and is the
  * semantically right grid for text dedup (duplicated spans start at
  * token boundaries).
  *
  * Algorithm, per pass (all shuffle-native, no global Window, no
  * driver-side data):
  *   1. per-doc `lead(rank, k)` window fetches the rank of the suffix k
  *      tokens ahead (docs are bounded-length, so `partitionBy(doc_id)`
  *      scales — the partition unit is one document);
  *   2. MULTI-WAY doubling (adaptive fan, [[pickFan]]): the pass key
  *      is (r[i], r[i+k], …, r[i+(f-1)k]), so each pass multiplies the
  *      compared prefix by f ≈ sqrt(longest doc) — TWO rank passes for
  *      any corpus up to 256 tokens/doc, vs ~8 for binary doubling;
  *   3. global rank() of the pass key over the DISTINCT-key table
  *      (`groupBy(key).count`, map-side combine absorbs tie-group
  *      skew), then join back — adaptively one-task + broadcast for
  *      small key tables, [[GlobalWindow.cumSumLong]]'s segmented scan
  *      over a range exchange + shuffle join at scale (see [[rankPass]]).
  * Convergence is detected from the tie-group maximum (a 1-row driver
  * scalar per pass, the iterative-algorithm analogue of Dedup's label
  * propagation probe); ONE `localCheckpoint(true)` after the last pass
  * truncates the iterated lineage (on a real cluster: reliable
  * `checkpoint` — same trade as [[Dedup]] documents).
  *
  * Cost: O(log_f maxTokens) passes = 2 on this corpus (max doc ~553
  * chars), each pass bounded shuffles of n = Σ tokens rows. 100 TB: every
  * stage is hash/range partitioned on high-cardinality keys; the only
  * driver traffic is one Long per pass.
  */
object SuffixArray {

  /** Fan-out of one doubling pass: the pass key carries the ranks at
    * offsets 0, c, 2c, …, (fan-1)·c, so each pass multiplies the
    * compared prefix by fan. The pass count — fixed barrier latency ×
    * passes — dominates the operator's wall-clock far below cluster
    * scale, so the fan is chosen ADAPTIVELY from the corpus's longest
    * document: f = ceil(sqrt(maxTok)) clamped to [4, 16] makes TWO rank
    * passes cover any corpus up to 256 tokens/doc (f → f² ≥ maxTok),
    * three up to 4096, degrading gracefully beyond; at scale a wider
    * shuffle row beats an extra full shuffle round anyway. */
  /** Largest distinct-key table [[rankPass]] ranks in one task and
    * broadcasts back; larger tables take the range-partitioned sweep. */
  private val BroadcastRankRows = 1000000L

  private def pickFan(maxTok: Int): Int =
    math.min(16, math.max(4, math.ceil(math.sqrt(maxTok.toDouble)).toInt))
  private def KN(j: Int) = s"__sa_k${j}__"
  private val CNT = "__sa_cnt__"
  private val CUM = "__sa_cum__"; private val RNK = "__sa_r__"

  /** Global rank() (1-based, ties share the minimum row number) of the
    * rows of `df` under the lexicographic ascending order of `keyCols`,
    * computed over the DISTINCT-KEY table (orders smaller than the
    * corpus), ADAPTIVELY:
    *   - small key table (<= [[BroadcastRankRows]] keys): one-task
    *     running sum over the keys + BROADCAST
    *     hash join back — the big frame is never shuffled at all;
    *   - large key table: [[GlobalWindow.cumSumLong]]'s segmented scan
    *     over a range exchange + shuffle join — no single-partition
    *     exchange at scale.
    * The choice is per pass, from the same 1-row stats job that feeds
    * the convergence probe, so a 100 TB corpus takes the sweep on early
    * passes and may legitimately drop to the broadcast path as tie
    * groups collapse.
    *
    * Returns the LAZY projection to `keep :+ outCol` (the caller
    * persists it as the next pass's input — materializing here would
    * add a full extra pass over the frame) plus the largest tie-group
    * size (1 => the rank is already a row_number). `df` must be
    * persisted by the caller: it is scanned by both the key counts and
    * the join back. Frames this pass persisted are appended to
    * `cleanup` for release after the pipeline's final materialization.
    */
  private[graft] def rankPass(df: DataFrame, keyCols: Seq[String],
      keep: Seq[String], outCol: String,
      cleanup: scala.collection.mutable.ListBuffer[DataFrame])
      : (DataFrame, Long) = {
    // The new rank lands in a RESERVED name first: `outCol` may well BE
    // one of `keyCols` (each doubling pass replaces the rank in place),
    // and a `withColumn(outCol, ...)` on the ranked-keys frame would
    // then overwrite the join key itself — the join back would quietly
    // keep only rows whose rank did not move this pass.
    val OUT = "__sa_out__"
    require(!keyCols.contains(OUT) && !keep.contains(OUT))
    val keys = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as(CNT)).persist()
    cleanup += keys
    val st = keys.agg(count(lit(1)).as("n"), max(col(CNT)).as("t")).head()
    val (nKeys, maxTie) = (st.getLong(0), st.getLong(1))
    val ranked =
      if (nKeys <= BroadcastRankRows) {
        val w = Window.orderBy(keyCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        broadcast(keys
          .withColumn(OUT, sum(col(CNT)).over(w) - col(CNT) + lit(1L))
          .drop(CNT))
      } else {
        GlobalWindow.cumSumLong(keys, keyCols.map(col), CNT, CUM)
          .withColumn(OUT, col(CUM) - col(CNT) + lit(1L))
          .drop(CUM, CNT)
      }
    val out = df.join(ranked, keyCols)
      .select((keep.map(col) :+ col(OUT).as(outCol)): _*)
    (out, maxTie)
  }

  /** Token-start suffix ranks for `docs(idCol, textCol)`: one row per
    * (doc, token-start char offset) with `sa_rank` = 1-based row_number
    * of the suffix `text[pos:]` under (full character-lexicographic
    * suffix order, doc id, pos) — bit-identical to the SQL
    * `row_number() OVER (ORDER BY substr(text, pos+1), doc_id, pos)`
    * restricted to word starts. Empty documents contribute no rows.
    */
  def suffixRanks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val perDoc = Window.partitionBy("doc_id").orderBy("tok_idx")
    val keep = Seq("doc_id", "tok_idx", "pos")
    val cleanup = scala.collection.mutable.ListBuffer.empty[DataFrame]

    // Loop bound + fan choice from a cheap PRE-EXPLODE scan of docs
    // (the docs table is |corpus|/avg_doc_len smaller than the position
    // frame; no window, no explode). The same single pass ENFORCES the
    // operator's ordering contract: token-sequence order equals raw
    // character suffix order ONLY for single-space-separated printable
    // ASCII (the ' ' separator must sort below every in-token byte,
    // and Spark's UTF-16 comparison must agree with the oracle's UTF-8
    // byte order — both guaranteed in ASCII, neither beyond it).
    // Non-conforming corpora fail LOUDLY with the normalization hint
    // instead of producing subtly reordered ranks.
    val stats = docs.where(length(col(textCol)) > 0)
      .agg(max(size(split(col(textCol), " "))),
        sum(when(col(textCol).rlike("\\A |  | \\z|[^ -~]"), 1L)
          .otherwise(0L))).head()
    if (stats.isNullAt(0)) // empty corpus: typed empty frame
      return docs.sparkSession.range(0).select(col("id").as("doc_id"),
        col("id").as("pos"), col("id").as("sa_rank"))
    require(stats.getLong(1) == 0L,
      s"SuffixArray.suffixRanks: ${stats.getLong(1)} document(s) violate " +
        "the single-space printable-ASCII contract (leading/trailing/" +
        "double spaces or bytes outside 0x20-0x7E) — pre-normalize the " +
        "text column (e.g. TextFunctions' whitespace normalization) " +
        "before ranking, or suffix order vs the raw-character oracle " +
        "is undefined")
    val maxTok: Int = stats.getInt(0)
    val fan = pickFan(maxTok)

    // Tokenize with char offsets: pos = Σ previous token lengths +
    // (#separators before) — a bounded per-doc running sum.
    val toks = docs
      .where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("tok_idx", "tok")))
      .withColumn("pos",
        (coalesce(sum(length(col("tok"))).over(
          perDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0)) +
          col("tok_idx")).cast("long"))
      .persist()
    cleanup += toks
    // Vocabulary pre-pass: rank by the single token — the key table is
    // VOCAB-sized (tiny), and every later pass then shuffles, sorts and
    // broadcasts LONGS, never strings. cover = 1 token.
    var (ranks, tie) = rankPass(toks, Seq("tok"), keep, RNK, cleanup)

    // fan-way doubling passes: key (r[i], r[i+c], …, r[i+(fan-1)c])
    // extends the compared prefix from c to fan·c tokens (0 = end
    // sentinel, below every real rank >= 1).
    var cover = 1L
    while (tie > 1L && cover < maxTok.toLong) {
      val c = cover.toInt
      val paired = (1 until fan).foldLeft(ranks) { (d, j) =>
        d.withColumn(KN(j),
          coalesce(lead(col(RNK), j * c).over(perDoc), lit(0L)))
      }.persist()
      cleanup += paired
      val (nr, nt) =
        rankPass(paired, RNK +: (1 until fan).map(KN), keep, RNK, cleanup)
      ranks = nr; tie = nt; cover *= fan.toLong
    }

    // Residual ties = identical full suffixes across documents; break
    // by (doc_id, pos) to land on row_number. rank() counts ALL
    // preceding rows, so a size-g tie group at rank r owns row numbers
    // r..r+g-1 exactly — a row_number WITHIN the group (partitioned by
    // the rank itself: tiny, high-cardinality partitions) closes the
    // gap without another global rank pass. When tie == 1 the rank()
    // of all-singleton groups already IS the contiguous row_number.
    val fin =
      if (tie > 1L) {
        val byTie = Window.partitionBy(RNK).orderBy("doc_id", "pos")
        ranks.withColumn("sa_rank",
          col(RNK) + row_number().over(byTie) - lit(1L))
      } else ranks.withColumnRenamed(RNK, "sa_rank")
    // ONE eager materialization for the whole pipeline: truncates the
    // iterated lineage for downstream consumers (repeatSpans scans the
    // result twice) and lets every per-pass cache go.
    val out = fin.select(col("doc_id"), col("pos"), col("sa_rank"))
      .localCheckpoint(true)
    cleanup.foreach(_.unpersist())
    out
  }

  /** Adjacent-in-suffix-array repeated spans: pairs of suffix-array
    * neighbours whose longest common prefix (capped at `cap` chars —
    * the classic bounded-LCP grid for >= minLcp dedup decisions) is at
    * least `minLcp`, aggregated per unordered doc pair. A repeated
    * substring of length L >= minLcp ALWAYS surfaces here: its two
    * occurrences' suffixes share an L-prefix, so some adjacent pair
    * between them in SA order does too. Output:
    * (doc_lo, doc_hi, anchors, max_lcp).
    *
    * The LCP step materializes only `cap`-char prefixes of the two
    * neighbours (linear in n, never the full suffixes), compared with
    * the compiled common-prefix byte loop
    * [[graft.functions.CommonPrefixCharsExpr]] — proven equal (scaladoc
    * proof + differential fuzz + the oracle) to the declarative
    * mismatch-index formula the oracle's list comprehension evaluates.
    */
  def repeatSpans(docs: DataFrame, minLcp: Int = 20, cap: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ranks = suffixRanks(docs, idCol, textCol)
    val text = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__sa_t__"))
    // Round-17 optimization (comment corrected round 18, r17 ADVICE):
    // attach the capped suffix prefix through one doc-id join SUBTREE
    // against the checkpointed ranks, then self-pair the slim
    // (sa_rank, doc_id, sfx) frame. The subtree is LOGICALLY single but
    // referenced on both self-join sides, so the physical plan
    // evaluates the text join + substring per side unless exchange
    // reuse fires — the r17 win over the old per-side text joins is the
    // slimmer pair frame + the compiled LCP, not a halved join count.
    // Round 18 measured the materialized alternative
    // (localCheckpoint(true) on sfx): same-session A/B read neutral at
    // sf0.1 and the eager blocks leak executor storage across repeated
    // constructions (no release point in a lazy-return operator), so
    // the lazy shape stays.
    val sfx = ranks.join(text, "doc_id")
      .select(col("sa_rank"), col("doc_id"),
        expr(s"substring(__sa_t__, pos + 1, $cap)").as("__sfx"))
    val pairs = sfx
      .select(col("sa_rank"), col("doc_id").as("doc_a"),
        col("__sfx").as("sa"))
      .join(sfx.select((col("sa_rank") - 1).as("sa_rank"),
        col("doc_id").as("doc_b"), col("__sfx").as("sb")), "sa_rank")
    // LCP of the capped prefixes == their common-prefix char count
    // (proof on [[graft.functions.CommonPrefixCharsExpr]]) — a compiled
    // O(prefix) byte loop replacing the interpreted O(cap²)
    // transform/array_min scan; pinned bit-equal to the declarative
    // form by SuffixArraySpec's brute-force differential fuzz and the
    // unchanged DuckDB oracle.
    pairs
      .withColumn("lcp",
        graft.functions.HashKernels.commonPrefixChars(
          col("sa"), col("sb")).cast("long"))
      .where(col("lcp") >= minLcp)
      .select(least(col("doc_a"), col("doc_b")).as("doc_lo"),
        greatest(col("doc_a"), col("doc_b")).as("doc_hi"), col("lcp"))
      .groupBy("doc_lo", "doc_hi")
      .agg(count(lit(1)).as("anchors"), max(col("lcp")).as("max_lcp"))
  }
}
