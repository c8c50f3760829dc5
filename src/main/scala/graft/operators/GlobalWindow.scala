package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.DoubleType

/** Scalable global and few-hot-groups running aggregates.
  *
  * `Window.orderBy(...)` with no `partitionBy` is semantically what the
  * reference's path-2 frames mean (SURVEY.md §2.1 path 2), but Spark
  * executes it on a SINGLE partition — the documented 100 TB bottleneck
  * (SURVEY.md §4.2). Grouped running aggregates over a low-cardinality
  * key hit the same wall: `Window.partitionBy(flag)` caps at G tasks.
  * Both get the classic two-pass fix:
  *
  *   1. split the key space into P contiguous ranges and compute each
  *      (group, range)'s LOCAL running sum (an ordinary
  *      `Window.partitionBy(group, pid).orderBy(keys)` — one hash
  *      shuffle, G×P-way parallel);
  *   2. aggregate one total per (group, range) (G×P tiny rows),
  *      exclusive prefix-sum per group, and broadcast-join the offsets
  *      back.
  *
  * '''Partition id is DATA, not an execution artifact.''' Earlier
  * versions stamped `spark_partition_id()` after a `repartitionByRange`;
  * the sweep and the offset aggregation are two branches of a plan
  * diamond, and because column pruning projects their range exchanges
  * differently, the exchanges do NOT canonicalize equal — each branch
  * re-evaluated `spark_partition_id()` independently (verified: the
  * physical plan contains no ReusedExchange for either branch, with or
  * without AQE). Row/offset consistency then rested on range-bound
  * sampling being deterministic — observed true, but not a Spark
  * contract. This version removes the race class structurally: the range
  * split points are sampled ONCE (a driver-side, keys-only job — the
  * same pass `RangePartitioner` runs hidden inside every range exchange)
  * and compiled into the plan as literals; each row's pid is a pure
  * expression of its own key (binary when-tree over the sorted bounds),
  * so every branch — and every task retry, AQE re-plan, or
  * exchange-reuse decision — computes the identical pid by construction.
  *
  * The sampling job projects only the order keys (column-pruned +
  * pushed down for scans). Callers whose input is an expensive derived
  * frame rather than a scan should persist it first, as they would
  * before any multi-action pipeline.
  *
  * Keys wrapped in an explicit `.asc`/`.desc` (SortOrder) cannot be
  * compared as a struct, so they get a per-field lexicographic
  * comparator compiled in each key's declared direction and null
  * ordering ([[sortedPidExpr]]) — same literal-bounds determinism as
  * the plain path; no `spark_partition_id` anywhere.
  *
  * Cost: one keys-only sampling pass + one hash shuffle (group, pid) +
  * one G×P-row broadcast — fully parallel at any scale. With a total
  * order (callers include a tiebreaker, same contract as any
  * deterministic window) the result equals the plain window exactly for
  * integer-valued data and within float ulps otherwise (partitioned
  * summation reassociates the adds).
  */
object GlobalWindow {

  private val PID = "__gw_pid__"
  private val OPID = "__gw_opid__" // offset-side alias of PID (join clarity)
  private val KEY = "__gw_key__"

  /** Range-split count ceiling: the pid when-tree materializes one node
    * per split, so splits track shuffle partitions only up to a bound
    * that keeps the expression tree small (a 2048-way prefix structure
    * saturates any realistic cumsum; beyond it the tree itself becomes
    * the cost). A larger explicit `numPartitions` is silently clamped
    * here — public so callers can see the ceiling they'll get. */
  val MaxSplits = 2048

  /** The prefix-decomposable running aggregates: local per-range result
    * ⊕ an offset folded from whole preceding ranges. Sum/Count/Min/Max
    * are the associative kernels; Avg rides on Sum+Count. */
  sealed trait RunningAgg
  object RunningAgg {
    case object Sum extends RunningAgg
    /** Long-exact sum (round 17, r16 ADVICE): [[Sum]] accumulates
      * `sum(v.cast(double))`, so integral magnitudes past 2^53 silently
      * lose exactness. This kernel keeps the value in its native LONG
      * arithmetic end to end — partials, offsets, and the combine are
      * all int64 adds, and ANSI mode makes a genuine int64 overflow a
      * loud error instead of a wrong answer. For the distinct-sum
      * carriers of [[graft.operators.RollingDistinct]], whose "exact
      * 64-bit arithmetic" contract the double carrier was quietly
      * weakening. `valueCol` must be LongType (or null). */
    case object SumLong extends RunningAgg
    case object Count extends RunningAgg
    case object Min extends RunningAgg
    case object Max extends RunningAgg
    case object Avg extends RunningAgg
  }

  /** Global cumulative sum of `valueCol` (cast to double) in the total
    * order of `orderBy`, appended as `outCol`.
    *
    * NOTE: constructing the result runs an EAGER driver-side sampling job
    * over `df` projected to the order keys (the same hidden pass every
    * range exchange runs) — an un-persisted expensive derived input
    * recomputes its lineage for that sample plus once per consuming plan
    * branch. Persist such inputs first, as before any multi-action
    * pipeline. `numPartitions` is capped at [[MaxSplits]] (2048); 0 means
    * the session's shuffle parallelism. */
  def cumSum(df: DataFrame, orderBy: Seq[Column], valueCol: String,
      outCol: String, numPartitions: Int = 0): DataFrame =
    groupedCumSum(df, Nil, orderBy, valueCol, outCol, numPartitions)

  /** Ungrouped [[groupedCumSumLong]]. */
  def cumSumLong(df: DataFrame, orderBy: Seq[Column], valueCol: String,
      outCol: String, numPartitions: Int = 0): DataFrame =
    groupedCumSumLong(df, Nil, orderBy, valueCol, outCol, numPartitions)

  /** Grouped running sum for FEW-HOT-GROUPS data — parallelism G×P
    * instead of the G-task cap of `Window.partitionBy(group)`. Groups
    * clustered inside a narrow slice of the GLOBAL key distribution
    * degrade toward the plain window (their rows share few pids) —
    * acceptable for the hot-group shape this targets, where every group
    * spans the key domain. Eager-sampling + `numPartitions` cap notes on
    * [[cumSum]] apply here too. */
  def groupedCumSum(df: DataFrame, by: Seq[String], orderBy: Seq[Column],
      valueCol: String, outCol: String, numPartitions: Int = 0): DataFrame =
    groupedCumAgg(df, by, orderBy, valueCol, outCol, RunningAgg.Sum,
      numPartitions)

  /** The LONG-EXACT sibling of [[groupedCumSum]] (round 17):
    * `valueCol` must be LongType; the running value never leaves int64,
    * so magnitudes past 2^53 stay exact and a genuine overflow is a
    * loud ANSI error. Same plan shape and scaling notes. */
  def groupedCumSumLong(df: DataFrame, by: Seq[String],
      orderBy: Seq[Column], valueCol: String, outCol: String,
      numPartitions: Int = 0): DataFrame =
    groupedCumAgg(df, by, orderBy, valueCol, outCol, RunningAgg.SumLong,
      numPartitions)

  /** Generalized scalable running aggregate (sum/count/min/max/avg) —
    * any aggregate whose global running value decomposes into a local
    * per-range running value combined with a fold of whole preceding
    * ranges. Same plan shape for every kind: pid stamp, one hash
    * shuffle, G×P offset rows, broadcast join. */
  def groupedCumAgg(df: DataFrame, by: Seq[String], orderBy: Seq[Column],
      valueCol: String, outCol: String, agg: RunningAgg,
      numPartitions: Int = 0): DataFrame =
    sweepAndJoin(stampPid(df, orderBy, numPartitions), by, orderBy,
      Seq((agg, valueCol, outCol)))

  /** MULTI-PAYLOAD sibling of [[groupedCumSumLong]]: N independent
    * running Long sums in the SAME total order share ONE pid stamp (one
    * sampling job), ONE local sweep window, ONE offset aggregate and ONE
    * broadcast join — N payloads cost N extra aggregate buffers in the
    * same passes, not N-1 extra passes. Each payload gates on its OWN
    * running non-null count, so the result equals N sequential
    * [[groupedCumSumLong]] calls exactly ("no values yet" stays NULL per
    * payload). Each `(in, out)` payload must be LongType (or null) —
    * same int64-exact contract as [[RunningAgg.SumLong]]. */
  def groupedCumSumsLong(df: DataFrame, by: Seq[String],
      orderBy: Seq[Column], payloads: Seq[(String, String)],
      numPartitions: Int = 0): DataFrame = {
    require(payloads.nonEmpty, "groupedCumSumsLong needs >= 1 payload")
    sweepAndJoin(stampPid(df, orderBy, numPartitions), by, orderBy,
      payloads.map { case (in, out) => (RunningAgg.SumLong, in, out) })
  }

  /** Stamp the literal-bounds range pid (the construction notes are in
    * the object's scaladoc). */
  private def stampPid(df: DataFrame, orderBy: Seq[Column],
      numPartitions: Int): DataFrame = {
    val parts = math.min(MaxSplits,
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions)
    // Plain columns compose into a comparable struct whose ordering
    // (lexicographic, nulls-first) matches Window.orderBy's asc default;
    // SortOrder nodes (.desc/.asc wrappers) cannot, so they take the
    // legacy path.
    val plainKeys = orderBy.forall(c => !ColumnShim.isSortOrder(c))
    if (plainKeys) {
      // single-key fast path: compare the bare column — a struct per
      // comparison costs an InternalRow allocation per row per tree
      // level. Multi-key: hoist the struct into ONE projected column so
      // the tree's O(parts) nodes reference it instead of re-building it.
      if (orderBy.size == 1) {
        val pid = rangePidExpr(df, orderBy.head, parts)
        df.withColumn(PID, pid)
      } else {
        val keyed = df.withColumn(KEY, struct(orderBy: _*))
        keyed.withColumn(PID, rangePidExpr(keyed, col(KEY), parts))
          .drop(KEY)
      }
    } else {
      // `.asc`/`.desc`-wrapped keys: same literal-bounds construction,
      // with the bound comparison compiled per-field in the declared
      // direction and null ordering (a struct comparison can't express
      // mixed directions). No spark_partition_id anywhere — every plan
      // branch computes the identical pid by construction.
      df.withColumn(PID,
        sortedPidExpr(df, orderBy.map(ColumnShim.sortSpec), parts))
    }
  }

  /** The two-pass scaffold over a pid-stamped frame, for N payloads
    * `(kind, in, out)` in one total order: local sweep, per-(group, pid)
    * totals, per-group exclusive prefix, broadcast join back — every
    * payload rides the same window, aggregate and join as one more
    * buffer. Group keys join NULL-SAFELY (`<=>`): `Window.partitionBy`
    * treats a NULL group as a real group, and a null-unsafe join would
    * silently null out that whole group's output. */
  private def sweepAndJoin(ranged: DataFrame, by: Seq[String],
      orderBy: Seq[Column],
      payloads: Seq[(RunningAgg, String, String)]): DataFrame = {
    import RunningAgg._
    val byCols = by.map(col)
    def CNT(i: Int) = s"__gw_cnt_${i}__"
    def LOC(i: Int) = s"__gw_loc_${i}__"
    def PCNT(i: Int) = s"__gw_pcnt_${i}__"
    def PART(i: Int) = s"__gw_part_${i}__"
    def OFFCNT(i: Int) = s"__gw_offcnt_${i}__"
    def OFF(i: Int) = s"__gw_off_${i}__"
    // the kernel each kind folds with — locally, per (group, pid), and
    // across preceding pids. Sum/Avg run in double; SumLong has NO double
    // cast anywhere — int64 partials/offsets/combine keep magnitudes past
    // 2^53 exact (ANSI makes true overflow loud). Count needs no kernel:
    // the running count below is its value.
    def merge(agg: RunningAgg, c: Column): Column = agg match {
      case Min => min(c)
      case Max => max(c)
      case _   => sum(c)
    }
    def value(agg: RunningAgg, in: String): Column =
      if (agg == Sum || agg == Avg) col(in).cast(DoubleType) else col(in)
    // sums fold "nothing" to their zero; min/max keep NULL, which
    // least/greatest skip
    def orZero(agg: RunningAgg, c: Column): Column = agg match {
      case Sum | Avg => coalesce(c, lit(0.0))
      case SumLong   => coalesce(c, lit(0L))
      case _         => c
    }
    val indexed = payloads.zipWithIndex

    // Pass 1: per-(group, range) running partials. The running non-null
    // count is always computed: it distinguishes "sum is 0" from "no
    // values seen yet" (a window agg is NULL until the first non-null
    // value; count itself is the one aggregate that starts at 0).
    val lw = Window.partitionBy((byCols :+ col(PID)): _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val swept = indexed.foldLeft(ranged) { case (acc, ((agg, in, _), i)) =>
      val counted = acc.withColumn(CNT(i), count(col(in)).over(lw))
      if (agg == Count) counted
      else counted.withColumn(LOC(i), merge(agg, value(agg, in)).over(lw))
    }

    // Pass 2: one total per (group, pid) (map-side partial agg → G×P
    // rows), exclusive prefix-fold per group over its P rows (a window
    // over G×P tiny rows — that's the point of the rewrite), broadcast
    // the offsets back. pid is the SAME data/expression in both passes,
    // so the branches cannot disagree.
    val pw = Window.partitionBy(byCols: _*).orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offBy = by.map(b => s"__gw_by_$b")
    val partials = indexed.flatMap { case ((agg, in, _), i) =>
      count(col(in)).as(PCNT(i)) +: (if (agg == Count) Nil
        else Seq(orZero(agg, merge(agg, value(agg, in))).as(PART(i))))
    }
    val withOffsets = indexed.foldLeft(
        ranged.groupBy((byCols :+ col(PID)): _*)
          .agg(partials.head, partials.tail: _*)) {
      case (acc, ((agg, _, _), i)) =>
        val counted = acc.withColumn(OFFCNT(i),
          coalesce(sum(col(PCNT(i))).over(pw), lit(0L)))
        if (agg == Count) counted
        else counted.withColumn(OFF(i),
          orZero(agg, merge(agg, col(PART(i))).over(pw)))
    }
    // The offset side's pid is RENAMED (like the `__gw_by_` group keys):
    // both frames share lineage, and a `swept(PID) === offsetDf(PID)`
    // condition is exactly the self-join ambiguity class Spark resolves
    // heuristically (it logged "trivially true equals predicate" warnings)
    // — two distinct attribute names make the equi-join unambiguous under
    // any plan rewrite.
    val offOut = col(PID).as(OPID) +: indexed.flatMap {
      case ((agg, _, _), i) =>
        col(OFFCNT(i)) +: (if (agg == Count) Nil else Seq(col(OFF(i))))
    }
    val offsetDf = withOffsets.select(
      (by.zip(offBy).map { case (b, o) => col(b).as(o) } ++ offOut): _*)

    // Combine: local ⊕ offset. least/greatest skip NULLs, which is
    // exactly "no values yet on that side"; the count gate preserves the
    // NULL-until-first-value window contract for everything except
    // Count, which genuinely starts at 0.
    def combined(agg: RunningAgg, i: Int): Column = {
      val n = col(CNT(i)) + col(OFFCNT(i))
      val total = orZero(agg, col(LOC(i))) + col(OFF(i))
      agg match {
        case Sum | SumLong => when(n > 0, total)
        case Avg   => when(n > 0, total / n)
        case Count => n
        case Min   => least(col(LOC(i)), col(OFF(i)))
        case Max   => greatest(col(LOC(i)), col(OFF(i)))
      }
    }
    val joinCond = (by.zip(offBy).map { case (b, o) => col(b) <=> col(o) } :+
      (col(PID) === col(OPID))).reduce(_ && _)
    indexed.foldLeft(
        swept.join(broadcast(offsetDf), joinCond, "left")) {
      case (acc, ((agg, _, out), i)) => acc.withColumn(out, combined(agg, i))
    }.drop((offBy :+ PID :+ OPID) ++ payloads.indices.flatMap(i =>
      Seq(CNT(i), LOC(i), PCNT(i), PART(i), OFFCNT(i), OFF(i))): _*)
  }

  /** Sampled-bounds memo, keyed by (semantic hash of the keys-only
    * analyzed plan, the key schema + direction signature, parts). The
    * signature guards the (astronomically unlikely) 32-bit semanticHash
    * collision between plans whose key columns differ in type or sort
    * direction — a collision would otherwise replay cached values into
    * `Literal.create(v, kType)` with a mismatched type and crash query
    * construction. Re-invoking cumSum/groupedCumAgg on the same frame
    * shape (benchmark reruns, iterative pipelines, plan diamonds built
    * by callers) skips the driver-side sampling job. SAFE BY
    * CONSTRUCTION: any bounds yield a CORRECT pid function (sampling
    * quality only affects partition balance), so even a stale entry —
    * e.g. the underlying files changed between calls — can only skew
    * balance, never results. Bounded LRU (64 entries). */
  private val boundsMemo =
    new java.util.LinkedHashMap[(Int, String, Int), Seq[Seq[Any]]](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String, Int), Seq[Seq[Any]]]): Boolean =
        size() > 64
    }

  /** Quantile split rows over `keyed` (already projected to the key
    * columns) in the total order of `sortCols`: a one-pass
    * TakeOrderedAndProject by key hash (uniform-ish pseudo-random sample,
    * top-S per partition retained), the retained S rows sorted by the
    * actual key order, then `parts`-quantile stepping, deduplicated.
    * Heavy key duplication collapses bounds — trading balance for
    * correctness; equal keys always share a pid. */
  private def sampleBounds(keyed: DataFrame, sortCols: Seq[Column],
      sig: String, parts: Int): Seq[Seq[Any]] = {
    val memoKey = (keyed.queryExecution.analyzed.semanticHash(), sig, parts)
    boundsMemo.synchronized {
      Option(boundsMemo.get(memoKey))
    }.getOrElse {
      val sampleSz = math.min(parts * 64, 262144)
      val hash = xxhash64(struct(keyed.columns.map(col): _*))
      val sample: Array[Row] = keyed
        .orderBy(hash +: sortCols: _*)
        .limit(sampleSz)
        .orderBy(sortCols: _*)
        .collect()
      val step = sample.length.toDouble / parts
      val vals: Seq[Seq[Any]] =
        if (sample.isEmpty) Nil // empty input → single pid 0
        else (1 until parts)
          .map(i => sample(math.min((i * step).toInt, sample.length - 1)))
          .map(_.toSeq)
          .distinct
      // only the ≤ parts-1 split VALUES are retained, never the sample
      boundsMemo.synchronized { boundsMemo.put(memoKey, vals) }
      vals
    }
  }

  private def rangePidExpr(df: DataFrame, key: Column,
      parts: Int): Column = {
    if (parts <= 1) return lit(0)
    val keyed = df.select(key.as("k"))
    val kType = keyed.schema("k").dataType
    // NULL bounds are dropped (possible on the bare-column fast path when
    // null keys are common): `key >= NULL` is NULL, which the when-tree
    // would route left unconditionally; null KEYS themselves route left
    // to pid 0 on every branch — consistently in both plan branches,
    // matching asc-nulls-first order.
    val boundVals = sampleBounds(keyed, Seq(col("k")), kType.sql, parts)
      .filterNot(r => r.head == null).map(_.head)
    val bounds = boundVals.map(v => ColumnShim.column(Literal.create(v, kType)))
    if (bounds.isEmpty) return lit(0)
    // pid(key) = |{i : bound_i <= key}| via balanced when-tree.
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(key >= bounds(mid - 1), search(mid, hi))
          .otherwise(search(lo, mid - 1))
      }
    search(0, bounds.length)
  }

  /** Literal-bounds pid for `.asc`/`.desc`-wrapped order keys: the same
    * sampled-quantile when-tree as [[rangePidExpr]], with the bound
    * comparison compiled as a per-field lexicographic predicate in each
    * key's declared direction and null ordering (struct comparison can't
    * express descending or nulls-last fields, and dropping null bounds
    * isn't an option because null keys may legitimately sort LAST here).
    * The comparators are built from `when` chains that always yield
    * true/false — never NULL — so negation is two-valued and every plan
    * branch routes identically. */
  private def sortedPidExpr(df: DataFrame,
      specs: Seq[(Column, Boolean, Boolean)], parts: Int): Column = {
    if (parts <= 1) return lit(0)
    val names = specs.indices.map(i => s"__gw_k$i")
    val keyed = df.select(specs.zip(names).map { case ((c, _, _), n) =>
      c.as(n) }: _*)
    val types = keyed.schema.fields.map(_.dataType)
    val sortCols = specs.zip(names).map { case ((_, asc, nf), n) =>
      (asc, nf) match {
        case (true, true)   => col(n).asc_nulls_first
        case (true, false)  => col(n).asc_nulls_last
        case (false, true)  => col(n).desc_nulls_first
        case (false, false) => col(n).desc_nulls_last
      }
    }
    val sig = types.map(_.sql).mkString(",") + "|" +
      specs.map { case (_, asc, nf) =>
        (if (asc) "a" else "d") + (if (nf) "f" else "l") }.mkString
    val boundRows = sampleBounds(keyed, sortCols, sig, parts)
    if (boundRows.isEmpty) return lit(0)

    // strict "row-key < bound" in sort order, totally ordered over NULLs
    def fieldLt(f: Column, b: Column, asc: Boolean,
        nullsFirst: Boolean): Column = {
      val cmp = if (asc) f < b else f > b
      if (nullsFirst)
        when(f.isNull && b.isNotNull, lit(true))
          .when(f.isNull || b.isNull, lit(false))
          .otherwise(cmp)
      else
        when(b.isNull && f.isNotNull, lit(true))
          .when(f.isNull || b.isNull, lit(false))
          .otherwise(cmp)
    }
    def lexLt(bound: Seq[Any]): Column =
      specs.zipWithIndex.foldRight(lit(false): Column) {
        case (((child, asc, nf), i), rest) =>
          val b = ColumnShim.column(Literal.create(bound(i), types(i)))
          fieldLt(child, b, asc, nf) || (child <=> b && rest)
      }
    // pid(key) = |{i : bound_i <= key}| = |{i : NOT key < bound_i}|
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(!lexLt(boundRows(mid - 1)), search(mid, hi))
          .otherwise(search(lo, mid - 1))
      }
    search(0, boundRows.length)
  }
}
