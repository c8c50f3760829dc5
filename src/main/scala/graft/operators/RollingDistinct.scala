package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact COUNT(DISTINCT id) over a trailing bucket window — the "7-day
  * rolling unique users" shape — WITHOUT window expansion.
  *
  * Distinct aggregates are not windowable in either Spark or most SQL
  * engines (`count(DISTINCT x) OVER (...)` is rejected), so the naive
  * forms are an interval self-join (|buckets| × |rows| pair blowup) or
  * per-window `collect_set` (state proportional to window contents).
  * Both die at scale. This operator uses the DIFFERENCE-ARRAY
  * decomposition instead, which touches each input row a constant
  * number of times:
  *
  *   1. distinct (id, bucket) pairs — one hash aggregate;
  *   2. per id, `prev` = previous bucket via `lag` (high-cardinality
  *      partition key — parallelism is |ids|, no G-task cap);
  *   3. a pair (prev=p, bucket=t) is the id's FIRST appearance inside
  *      the trailing window [d-w+1, d] exactly for window ends
  *      d ∈ [max(t, p+w), t+w-1]; emit +1 at max(t, p+w) and -1 at
  *      t+w — two delta rows per pair, never an explode over w;
  *   4. sum deltas per bucket (hash aggregate), then a running sum in
  *      bucket order is the exact distinct count at every bucket.
  *
  * The running sum runs over the BUCKET DOMAIN (one row per spine or
  * delta bucket), whose size follows the buckets — days of history, not
  * rows — and rides [[GlobalWindow.groupedCumSumsLong]] so even a
  * second-granular domain (~31M buckets/year) needs no single-partition
  * sort. Every form shares one lowering: a spine of the buckets to
  * report, merged with the raw delta rows, then one running pass.
  *
  * Everything is exact: no sketch, no sampling. For approximate distinct
  * at much lower cost see the HLL path in `agg_approx`.
  */
object RollingDistinct {

  /** Spine span guard (r13 ADVICE): the DENSE bucket spine is
    * `sequence(lo, hi)` per group, so a SPARSE integral order domain
    * (epoch-nanos keys with a small range frame) would explode into an
    * enormous per-group sequence and fail late — or run for hours —
    * instead of erroring at analysis the way stock Spark's rejection
    * would have. This caps each group's span at
    * `spark.graft.rollingDistinct.maxBucketSpan` (default 1e8 — ~3
    * years of second-granular buckets, ~270k years of days) and raises
    * immediately with a quantize-first hint on pathological domains.
    * The subtraction itself is ANSI-checked: span overflow (hi−lo past
    * int64) also fails loudly rather than wrapping. Observed spines
    * (what [[graft.plans.RollingDistinctRewrite]] uses) materialize no
    * sequence and never reach this guard. */
  private def guardedHi(df: DataFrame): Column = {
    val cap = df.sparkSession.conf.get(
      "spark.graft.rollingDistinct.maxBucketSpan", "100000000").toLong
    when(col("__hi") - col("__lo") <= cap, col("__hi"))
      .otherwise(raise_error(format_string(
        "rolling-distinct bucket span %s exceeds " +
          s"spark.graft.rollingDistinct.maxBucketSpan=$cap — quantize " +
          "the order key to a coarser bucket grid (days/hours, not ns)",
        col("__hi") - col("__lo"))).cast("long"))
  }

  /** Sum carrier of `v` (a column holding `valueCol`'s values): distinct
    * values are compared RAW — any atomic type, and since the
    * multi-argument COUNT(DISTINCT a, b) widening also STRUCTS — but
    * `try_cast(x AS BIGINT)` is an ANALYSIS error (not a runtime null)
    * for struct/array/map/binary/date inputs, so the running-sum
    * carrier becomes a null literal for any type bigint cannot be
    * try_cast from. Callers only read the sum for integral-eligible
    * SUM/AVG targets, where the cast is the identity. */
  private def sumCarrier(df: DataFrame, valueCol: String, v: Column): Column =
    df.schema.find(_.name == valueCol).map(_.dataType) match {
      case Some(_: org.apache.spark.sql.types.NumericType) |
          Some(org.apache.spark.sql.types.StringType) |
          Some(org.apache.spark.sql.types.BooleanType) => v.try_cast("bigint")
      case _ => lit(null).cast("bigint")
    }

  /** The buckets a lowering reports, one (group, "__d") row each. An
    * OBSERVED spine (`dense = false`) is the distinct buckets of `src`,
    * so its cost scales with data, never with domain span. A DENSE spine
    * is every bucket of each group's [min, max] span — quiet buckets
    * included — via `sequence(lo, hi)`, capped by [[guardedHi]]. Null
    * buckets never enter either spine. */
  private def spine(src: DataFrame, by: Seq[String], bucket: Column,
      dense: Boolean): DataFrame = {
    val byCols = by.map(col)
    val b = src.select(byCols :+ bucket.as("__d"): _*)
      .filter(col("__d").isNotNull)
    if (dense) b.groupBy(byCols: _*)
      .agg(min(col("__d")).as("__lo"), max(col("__d")).as("__hi"))
      .select(byCols :+ explode(sequence(col("__lo"), guardedHi(src)))
        .as("__d"): _*)
    else b.distinct()
  }

  /** Run a difference array over a spine. `deltas` holds raw
    * (group, "__d", "__dc"[, "__dv"]) rows, possibly at buckets NOT in
    * the spine (a trailing frame's −1 age-out row lands at b+w). Union
    * them with the spine (zero payload, flagged), sum per (group, bucket)
    * — groupBy treats a NULL group key as ONE real group, the window
    * semantics — run the Long-exact running sums over the merged buckets
    * in one [[GlobalWindow.groupedCumSumsLong]] pass, and keep the spine
    * rows. The running value at a spine bucket d thus includes every
    * delta at buckets ≤ d, in the spine or not. Output: (group, "__d",
    * "__cc"[, "__cv"]), one row per spine bucket. */
  private def running(spine: DataFrame, deltas: DataFrame,
      by: Seq[String]): DataFrame = {
    val byd = (by :+ "__d").map(col)
    val payload = Seq("__dc" -> "__cc", "__dv" -> "__cv")
      .filter(p => deltas.columns.contains(p._1))
    val aggs = payload.map(p => sum(col(p._1)).as(p._1)) :+
      max(col("__sp")).as("__sp")
    val merged = spine
      .select(byd ++ payload.map(p => lit(0L).as(p._1)) :+
        lit(1).as("__sp"): _*)
      .unionByName(deltas.select(byd ++ payload.map(p => col(p._1)) :+
        lit(0).as("__sp"): _*))
      .groupBy(byd: _*)
      .agg(aggs.head, aggs.tail: _*)
    GlobalWindow.groupedCumSumsLong(merged, by, Seq(col("__d")), payload)
      .filter(col("__sp") === 1).drop("__sp")
  }

  /** Append the exact trailing-`w`-bucket distinct count of `idCol`,
    * evaluated at EVERY bucket in the data's [min, max] span (buckets
    * with no activity included — the count can stay positive while ids
    * seen up to `w-1` buckets ago remain in range). Output:
    * (`bucketCol` long, `outCol` long), one row per bucket in span.
    *
    * `bucketCol` must be integral (epoch days/hours/...; quantize
    * first). The dense spine materializes one row per bucket via
    * `sequence()` from a single min/max aggregate — bounded by the
    * bucket-domain size, not by |df|. */
  def trailingDistinct(df: DataFrame, idCol: String, bucketCol: String,
      w: Long, outCol: String = "distinct_cnt"): DataFrame =
    groupedTrailingDistinct(df, Nil, idCol, bucketCol, w, outCol)

  /** Grouped form: the same decomposition per `by` group (rolling
    * uniques per source/domain/tenant), one row per bucket of each
    * group's span of `spineFrom.getOrElse(df)` — the count half of
    * [[groupedTrailingDistinctSum]] over a dense spine. `w` is Long so
    * micros-granular frame widths fit. */
  def groupedTrailingDistinct(df: DataFrame, by: Seq[String], idCol: String,
      bucketCol: String, w: Long,
      outCol: String = "distinct_cnt",
      spineFrom: Option[DataFrame] = None): DataFrame =
    trailing(df, by, idCol, bucketCol, w, outCol, None, spineFrom,
      dense = true)

  /** Exact trailing COUNT(DISTINCT v) AND SUM(DISTINCT v) over a
    * trailing `w`-bucket window, one frame per (group, bucket).
    *
    * The difference-array decomposition: a value's first appearance
    * inside the trailing window contributes 1 to the distinct count and
    * `v` to the distinct sum, so each distinct (group, v, bucket) pair
    * emits TWO weighted delta rows — (+1, +v) where the value enters the
    * window, (−1, −v) where it ages out — and two running sums over the
    * bucket domain recover both aggregates exactly. Distinctness is by
    * the RAW value (any atomic type or struct); the sum carrier is
    * `try_cast(v AS BIGINT)` after the distinct pass, or null where
    * bigint cannot be cast from the type. The sum is only meaningful
    * for integral `valueCol` (exact 64-bit arithmetic; running partials
    * are bounded by the true trailing distinct-sum magnitude, so ANSI
    * overflow implies the answer itself overflows). SQL semantics
    * preserved downstream: SUM over an empty frame is NULL while COUNT
    * is 0 — callers gate the sum on `cntCol > 0`
    * ([[graft.plans.RollingDistinctRewrite]] does).
    *
    * Output rows are every bucket of each group's span of
    * `spineFrom.getOrElse(df)`, quiet buckets included, guarded by
    * `maxBucketSpan`. Output: (by..., bucketCol long, cntCol long,
    * sumCol long). */
  def groupedTrailingDistinctSum(df: DataFrame, by: Seq[String],
      valueCol: String, bucketCol: String, w: Long,
      cntCol: String, sumCol: String,
      spineFrom: Option[DataFrame] = None): DataFrame =
    trailing(df, by, valueCol, bucketCol, w, cntCol, Some(sumCol),
      spineFrom, dense = true)

  /** The one trailing lowering behind the public forms and
    * [[graft.plans.RollingDistinctRewrite]]: distinct (group, value,
    * bucket) pairs, per-value lag edges, two delta rows per pair,
    * [[running]] over the chosen spine. `dense = true` (the public
    * forms) reports every bucket of each group's span; `dense = false`
    * (the rewrite) reports only the observed buckets, so a sparse 64-bit
    * domain (epoch micros/nanos) costs ∝ data, not ∝ span. The sum
    * carrier rides only when `sumCol` is given: a count-only caller
    * neither pays for it nor overflows int64 summing large-magnitude ids
    * (64-bit hashes) it never reads. Output: (by..., bucketCol, cntCol[,
    * sumCol]). */
  private[graft] def trailing(df: DataFrame, by: Seq[String],
      valueCol: String, bucketCol: String, w: Long, cntCol: String,
      sumCol: Option[String], spineFrom: Option[DataFrame],
      dense: Boolean): DataFrame = {
    require(w >= 1, "window width must be >= 1 bucket")
    import org.apache.spark.sql.expressions.Window

    val byCols = by.map(col)
    // NULL is no distinct value (SQL COUNT(DISTINCT)); the spine still
    // comes from the unfiltered input, so a bucket whose only ids are
    // NULL reports 0
    val pairs = df.select(byCols :+ col(valueCol).as("__v") :+
        col(bucketCol).cast("long").as("__b"): _*)
      .filter(col("__v").isNotNull).distinct()
    val perV = Window.partitionBy(byCols :+ col("__v"): _*)
      .orderBy(col("__b"))
    val edges = pairs
      .withColumn("__prev", lag(col("__b"), 1).over(perV))
      .select(byCols :+ col("__b") :+
        sumCarrier(df, valueCol, col("__v")).as("__s") :+
        (when(col("__prev").isNull, col("__b"))
          .otherwise(greatest(col("__b"), col("__prev") + w))
          .as("__start")): _*)
    // two delta rows per (group, value, bucket) pair: (+1, +v) where the
    // value enters the trailing window, (-1, -v) where it ages out
    def delta(d: Column, dc: Long, dv: Column): Column = struct(
      Seq(d.as("__d"), lit(dc).as("__dc")) ++
        sumCol.map(_ => dv.as("__dv")): _*)
    val deltas = edges.select(byCols :+ explode(array(
        delta(col("__start"), 1L, col("__s")),
        delta(col("__b") + w, -1L, -col("__s")))).as("__e"): _*)
      .select(byCols :+ col("__e.*"): _*)
    running(spine(spineFrom.getOrElse(df), by,
        col(bucketCol).cast("long"), dense), deltas, by)
      .select(byCols ++ Seq(col("__d").as(bucketCol),
        col("__cc").cast("long").as(cntCol)) ++
        sumCol.map(col("__cv").cast("long").as(_)): _*)
  }

  /** The first-occurrence difference array behind both cumulative
    * forms: one (+1, +v) delta per distinct non-null value at its FIRST
    * non-null `bucket`, run over the observed spine of `spineSrc`.
    * Distinct is by the RAW value (round-15 review fix): COUNT(DISTINCT)
    * is claimed for ANY atomic type, and an eager cast("long") would
    * conflate distinct non-integral values (1.2 and 1.7 both → 1) or
    * ANSI-throw on strings; the sum carrier casts AFTER the distinct
    * pass, and rides only when `sumCol` is given. Output as [[running]]. */
  private def cumulative(df: DataFrame, by: Seq[String], valueCol: String,
      bucket: Column, spineSrc: DataFrame,
      sumCol: Option[String]): DataFrame = {
    val byCols = by.map(col)
    val deltas = df
      .select(byCols :+ col(valueCol).as("__v") :+ bucket.as("__b"): _*)
      .filter(col("__v").isNotNull && col("__b").isNotNull)
      .distinct()
      .groupBy(byCols :+ col("__v"): _*)
      .agg(min(col("__b")).as("__d"))
      .select(byCols ++ Seq(col("__d"), lit(1L).as("__dc")) ++
        sumCol.map(_ => sumCarrier(df, valueCol, col("__v")).as("__dv")): _*)
    running(spine(spineSrc, by, bucket, dense = false), deltas, by)
  }

  /** CUMULATIVE distinct count AND sum — the `RANGE UNBOUNDED
    * PRECEDING` (default-frame) sibling of the trailing forms, i.e.
    * "cumulative unique users to date". Simpler decomposition: each
    * distinct value contributes (+1, +v) exactly once, at its FIRST
    * bucket; one running sum over the bucket domain recovers both
    * prefixes. NULL buckets fold in as a −∞ SENTINEL bucket (returned
    * as a null `bucketCol` row): stock Spark's measured semantics for
    * null order keys under an unbounded range frame — nulls sort
    * first as ONE peer group whose frame is just itself, and every
    * non-null row's frame INCLUDES them — fall out of the sentinel
    * sorting below every real bucket. `spineFrom` (default `df`)
    * decides which buckets get output rows: each group's observed
    * buckets, plus the sentinel row for groups with null-bucket rows.
    * The sum rides only when `sumCol` is given: a count-only caller
    * neither pays for it nor overflows int64 summing large ids (64-bit
    * hashes) it never reads. Output: (by..., bucketCol, cntCol[,
    * sumCol]). */
  def groupedCumulativeDistinctSum(df: DataFrame, by: Seq[String],
      valueCol: String, bucketCol: String,
      cntCol: String, sumCol: Option[String],
      spineFrom: Option[DataFrame] = None): DataFrame = {
    val SENT = Long.MinValue
    // in-band sentinel safety (r13 ADVICE): a LEGITIMATE bucket equal
    // to Long.MinValue would be conflated with the null peer group
    // (and re-emitted as a null-bucket row) — reject it loudly. A
    // when() on a null bucket falls through to otherwise(), so the
    // null → SENT fold is unaffected.
    val bucket = {
      val c = col(bucketCol).cast("long")
      coalesce(when(c === SENT, raise_error(lit(
        "rolling-distinct: order-key bucket Long.MinValue collides " +
          "with the null-bucket sentinel — shift or re-quantize the " +
          "order key")).cast("long"))
        .otherwise(c), lit(SENT))
    }
    cumulative(df, by, valueCol, bucket, spineFrom.getOrElse(df), sumCol)
      .select(by.map(col) ++ Seq(
        when(col("__d") === SENT, lit(null).cast("long"))
          .otherwise(col("__d")).as(bucketCol),
        col("__cc").cast("long").as(cntCol)) ++
        sumCol.map(col("__cv").cast("long").as(_)): _*)
  }

  /** The NULLS LAST sibling of [[groupedCumulativeDistinctSum]] (r14
    * verdict item 3). Under `ORDER BY b ASC NULLS LAST RANGE UNBOUNDED
    * PRECEDING`, the frames are the MIRROR of the nulls-first case:
    *
    *   - non-null rows EXCLUDE the null peer group (nulls sort after
    *     every non-null bucket) — the plain first-occurrence difference
    *     array over non-null-bucket pairs, with NO sentinel fold;
    *   - null rows are the LAST peer group, so their frame is the
    *     whole partition — one per-group total distinct count/sum
    *     (count_distinct + sum_distinct, a plain hash aggregate),
    *     emitted as the null-bucket row.
    *
    * No in-band sentinel exists on this path, so a legitimate
    * Long.MinValue bucket is fine here (the nulls-first variant must
    * reject it). `spineFrom` (default `df`) must carry `valueCol` too:
    * its rows decide which buckets get output rows AND which groups
    * have a null peer group, and the null-arm totals aggregate over it
    * (distinct aggregates skip null values, so extra null-value rows
    * relative to `df` cannot change the totals). The sum rides only when
    * `sumCol` is given, in both arms. */
  def groupedCumulativeDistinctSumNullsLast(df: DataFrame, by: Seq[String],
      valueCol: String, bucketCol: String,
      cntCol: String, sumCol: Option[String],
      spineFrom: Option[DataFrame] = None): DataFrame = {
    val byCols = by.map(col)
    val spineSrc = spineFrom.getOrElse(df)
    val nonNullArm = cumulative(df, by, valueCol,
        col(bucketCol).cast("long"), spineSrc, sumCol)
      .select(byCols ++ Seq(col("__d").as(bucketCol),
        col("__cc").cast("long").as(cntCol)) ++
        sumCol.map(col("__cv").cast("long").as(_)): _*)

    // whole-partition totals for groups that HAVE a null peer group;
    // groupBy(Nil) is the global-aggregate case, so by = Nil needs no
    // special join plumbing
    // Column-API try_cast, NOT a string splice (r15 ADVICE): the
    // rewrite's generated __rd_* names are parse-safe, but a direct
    // caller with a column name needing backticks (spaces, dots) would
    // get a parse error — or silently resolve the wrong column
    val nullAggs = sumCol.map(sum_distinct(
        sumCarrier(spineSrc, valueCol, col(valueCol))).cast("long").as(_))
      .toSeq :+ max(when(col(bucketCol).isNull, lit(1)).otherwise(lit(0)))
      .as("__hasnull")
    val nullArm = spineSrc.groupBy(byCols: _*)
      .agg(count_distinct(col(valueCol)).as(cntCol), nullAggs: _*)
      .filter(col("__hasnull") === 1)
      .withColumn(bucketCol, lit(null).cast("long"))
      .select(nonNullArm.columns.map(col): _*)
    nonNullArm.unionByName(nullArm)
  }
}
