package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ByteType, DateType, DayTimeIntervalType, DoubleType, IntegerType, LongType, ShortType, TimestampType}

/** Analyzer rule: `COUNT(DISTINCT x) OVER (PARTITION BY k ORDER BY b
  * RANGE BETWEEN n PRECEDING AND CURRENT ROW)` — and, since round 13,
  * `SUM(DISTINCT x)` / `AVG(DISTINCT x)` over the same frame shape for
  * integral `x` — → the difference-array plan of
  * [[graft.operators.RollingDistinct]]
  * (round-12 verdict item 4 — the manual rewrite promoted to a
  * Catalyst rule).
  *
  * Spark REJECTS distinct window aggregates outright
  * (`DISTINCT_WINDOW_FUNCTION_UNSUPPORTED`, raised from CheckAnalysis
  * via `WindowResolution.validateResolvedWindowExpression`) — and even
  * if it didn't, the naive evaluation would hold per-frame distinct
  * state proportional to window contents. Because the rejection fires
  * AFTER the resolution batch, an injected resolution rule can claim
  * the expression first: this rule rewrites the resolved Window node
  * into
  *
  *   child LEFT JOIN (difference-array rolling-distinct frame,
  *                    one row per (partition, bucket))
  *         ON partition keys (null-safe) AND bucket
  *
  * which preserves the naive semantics row for row:
  *   - non-null order keys: distinct non-null `x` over buckets in
  *     [b−n, b] (null order keys sort outside every finite range
  *     frame, so the frame pipeline filters them);
  *   - null order keys: Spark makes all null-key rows one peer frame
  *     (measured — see the null arm below), reproduced by a dedicated
  *     per-partition aggregate over the null-bucket rows;
  *   - empty frames: COUNT is 0, never null (the final coalesce);
  *     SUM over an empty frame is NULL (the final count-gated If) —
  *     the generalized frame carries BOTH running aggregates so the
  *     two SQL conventions are distinguishable.
  *
  * The SUM arm reuses the identical decomposition with the value as
  * its own weight: a value's first appearance inside the trailing
  * window contributes `v` instead of 1, so each distinct (partition,
  * v, bucket) pair emits (±1, ±v) delta rows and two bucket-domain
  * running sums recover count and sum exactly
  * ([[graft.operators.RollingDistinct.trailing]]).
  *
  * Output attributes keep the ORIGINAL exprIds (the final Project
  * aliases carry them over), so parent operators resolve unchanged.
  *
  * Eligibility — count/sum/avg DISTINCT of ONE deterministic scalar
  * EXPRESSION (any expression since round 16, r15 verdict item 5 —
  * `COUNT(DISTINCT date_trunc('day', ts))` is the natural cumulative-
  * distinct-days spelling; integral-typed for sum/avg: the rewrite
  * rides exact 64-bit arithmetic, fractional sums would re-associate
  * floating addition; non-deterministic targets keep the stock
  * rejection), no FILTER clause, attribute partition keys, a single
  * integral, DATE, or TIMESTAMP order attribute (round 16: DATE keys
  * bucket to epoch days via unix_date and take the stock-valid
  * integer DAY bounds — `ORDER BY d RANGE 7 PRECEDING`; round 17:
  * TIMESTAMP keys bucket to epoch MICROS via unix_micros and take
  * DayTimeInterval bounds — `RANGE INTERVAL '7' DAY PRECEDING`, the
  * natural pure-SQL event-time spelling, affordable now that the
  * SPARSE lowering costs ∝ data instead of ∝ bucket span;
  * YearMonthInterval bounds stay unclaimed for every key type —
  * month buckets are not fixed-width — and integer bounds over a
  * TIMESTAMP stay unclaimed because stock Spark rejects that frame
  * as invalid, which claiming would silently legalize) ASC or DESC
  * (DESC — a LEADING window,
  * "distinct over the next n buckets" — rides the identical ASC
  * pipeline on NEGATED buckets; round-14), and a RANGE frame that is
  * either UNBOUNDED PRECEDING .. CURRENT ROW (the default frame —
  * cumulative distinct via the first-occurrence difference array;
  * since round 15 ALL FOUR direction × null-ordering quadrants:
  * NULLS FIRST folds null buckets in as the −∞ sentinel, NULLS LAST
  * rides the MIRROR lowering — non-null frames are the plain
  * first-occurrence array with NO sentinel fold, null rows are the
  * last peer group and receive the whole-partition totals,
  * [[graft.operators
  * .RollingDistinct.groupedCumulativeDistinctSumNullsLast]] — r14
  * verdict item 3; DESC negates the bucket domain, mapping each DESC
  * null ordering onto its ASC twin) or ANY bounded offset
  * pair (round 16, r15 verdict item 2): `[n PRECEDING, CURRENT ROW]`,
  * the strictly-offset `[n PRECEDING, m PRECEDING]`, the FOLLOWING
  * mirrors, the degenerate `[CURRENT ROW, CURRENT ROW]` peers frame,
  * STRADDLING frames (`[n PRECEDING, k FOLLOWING]` — the
  * trailing-(n+k+1) window probed at the FUTURE bucket b+k), and
  * CUMULATIVE-TO-AN-OFFSET (`[UNBOUNDED, u]` for either sign of u —
  * the cumulative array probed at b+u) — every shape canonicalizes to
  * a trailing interval [b−n, b−m] (m of either sign, None·n for
  * unbounded) on a possibly-negated bucket axis and is evaluated by
  * joining the probe at the SHIFTED bucket b−m over a spine widened
  * by the shift. Finite
  * frames accept EITHER null ordering: null order keys are one peer
  * group whose frame is itself regardless of where nulls sort or how
  * the bounds sit (measured in DuckDB, incl. strictly-offset bounds).
  * Anything else
  * is left for CheckAnalysis to reject exactly as stock Spark would.
  *
  * ROWS frames (round 15, r14 verdict item 2): `COUNT/SUM/AVG
  * (DISTINCT x) OVER (... ROWS BETWEEN lo AND hi)` is claimed for ANY
  * bounded foldable offsets lo ≤ hi — trailing (`n PRECEDING ..
  * CURRENT ROW`), CENTERED (`n PRECEDING .. m FOLLOWING`), leading,
  * or strictly-offset (current row excluded) — with span and offsets
  * capped by `spark.graft.rowsDistinct.maxLag` (default 64), via a
  * LAG/LEAD-ARRAY lowering: the difference array cannot apply
  * (positional membership, not bucket intervals), but one tap per
  * offset in ONE WindowExec + `array_distinct` over the non-null
  * entries is exact for any order key (multi-key, any type, any
  * direction: the frame is purely positional and the taps ride the
  * same sort). Per-row state is the tap count — bounded by the
  * declared frame, never by partition size. Wider/unbounded rows
  * frames stay stock-rejected (per-row cost would be O(n); the range
  * rewrite is the scale path).
  *
  * FILTER clauses are structurally unclaimable: stock Spark raises
  * "Window aggregate function with filter predicate is not supported
  * yet" from ExtractWindowExpressions DURING the resolution batch —
  * before any Window node exists — so no injected resolution rule
  * can see the shape (unlike the DISTINCT rejection, which fires
  * from CheckAnalysis after resolution). A negative test pins the
  * stock error. Installed via
  * `spark.sql.extensions=graft.GraftExtensions` (build-time only:
  * analyzer rules cannot be added to a live session). */
case class RollingDistinctRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private sealed trait Kind
  private case object CntKind extends Kind
  private case object SumKind extends Kind
  private case object AvgKind extends Kind

  private sealed trait AnyTarget { def alias: Alias }

  /** nPreceding None = RANGE UNBOUNDED PRECEDING (the default frame —
    * cumulative distinct); Some(n) = a finite frame whose CANONICAL
    * form — after the `negate` bucket-axis flip — is the trailing
    * interval [b−n, b−m], with `mPreceding` = m ≥ 0 (m = 0 is the
    * classic trailing frame ending at the current bucket; m > 0 the
    * round-16 STRICTLY-OFFSET frame `[n PRECEDING, m PRECEDING]`, r15
    * verdict item 2). negate = run the pipeline on NEGATED buckets: set
    * for DESC order (a DESC preceding frame LEADS in bucket space) XOR
    * a FOLLOWING-side frame (`[m FOLLOWING, n FOLLOWING]` under ASC is
    * the mirror image) — the two compose, so all four combinations
    * land on the same trailing-ASC kernel (−Long.MinValue overflows
    * ANSI arithmetic loudly, and the operator's span guard bounds the
    * domain anyway — and the same negation serves the cumulative arm,
    * whose DESC form is "distinct from here forward"). nullsLast is
    * only meaningful on the cumulative arm (finite frames treat both
    * null orderings identically — measured in DuckDB: a null-key row's
    * frame is its whole null peer group under ANY finite bounds, even
    * strictly-preceding ones) and routes to the mirror nulls-last
    * lowering. */
  private case class Target(alias: Alias, id: Expression,
      part: Seq[Attribute], order: Attribute, nPreceding: Option[Long],
      kind: Kind, negate: Boolean, nullsLast: Boolean = false,
      mPreceding: Long = 0L)
      extends AnyTarget

  /** ROWS [lo, hi] — the positional frame, lowered to hi−lo+1 lag/lead
    * taps in one WindowExec (r14 verdict item 2; generalized round 15
    * to ANY bounded offsets lo ≤ hi — trailing, centered, leading or
    * strictly-offset frames alike, current row included or not). Order
    * is kept verbatim (any keys, any direction: the taps ride the same
    * sort the naive frame would). */
  private case class RowsTarget(alias: Alias, id: Expression,
      part: Seq[Expression], order: Seq[SortOrder], lo: Int, hi: Int,
      kind: Kind) extends AnyTarget

  private def integral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType

  /** Frame-offset magnitude cap (round 17): with the SPARSE lowering
    * there is no dense spine whose size scales with the offset, so the
    * old Int-range cap (which existed to keep the operator width an
    * Int) is gone — the width is Long now, and this cap only keeps the
    * downstream bucket arithmetic (b ± w, axis negation, probe shift)
    * overflow-safe for any realistic order domain: 2^60 µs ≈ 36,000
    * years. Offsets past it keep the stock rejection. */
  private val MaxAbsOffset = 1L << 60

  /** A distinct-target the rewrite can claim — widened in round 16
    * (r15 verdict item 5) from attribute-only to ANY deterministic
    * resolved scalar expression: `COUNT(DISTINCT date_trunc('day',
    * ts)) OVER (...)` is the natural spelling of the cumulative-
    * distinct-days question, and the pipeline only ever evaluates the
    * target as a projected column below the frame, so any expression a
    * Project could compute is sound. Non-deterministic targets
    * (rand()) keep the stock rejection: the rewrite evaluates the
    * expression at different multiplicity than the naive frame would,
    * which is only meaningful when re-evaluation is value-stable.
    * Aggregates / nested windows / subqueries inside the target are
    * structurally impossible in a resolved window-aggregate child but
    * are excluded defensively. */
  private def eligibleId(e: Expression): Boolean =
    e.resolved && e.deterministic && !e.exists {
      case _: AggregateExpression => true
      case _: WindowExpression    => true
      case _: PlanExpression[_]   => true
      case _                      => false
    }

  /** Aggregate-function eligibility shared by the range and rows arms:
    * count/sum/avg DISTINCT of one deterministic expression, integral
    * for sum/avg (exact 64-bit arithmetic). MULTI-ARGUMENT
    * `COUNT(DISTINCT a, b, …)` (round 16) synthesizes a single struct
    * target nullified when ANY argument is null — exactly the SQL
    * semantics (a row with any null argument is not counted), and the
    * pipelines' distinct machinery compares structs natively, so the
    * tuple count rides the same lowerings as a scalar. */
  private def kindIdOf(f: Expression): Option[(Kind, Expression)] =
    f match {
      case Count(Seq(c)) if eligibleId(c) => Some((CntKind, c))
      case Count(cs) if cs.size > 1 && cs.forall(eligibleId) =>
        val struct = CreateStruct(cs)
        val anyNull = cs.map(IsNull(_): Expression).reduce(Or(_, _))
        Some((CntKind, If(anyNull, Literal(null, struct.dataType), struct)))
      case s: Sum if eligibleId(s.child) && integral(s.child.dataType) =>
        Some((SumKind, s.child))
      case a: Average if eligibleId(a.child) &&
          integral(a.child.dataType) =>
        Some((AvgKind, a.child))
      case _ => None
    }

  /** Rows-frame tap cap: the lowering materializes n+1 lag buffers per
    * row, so only small declared frames are claimed; anything larger
    * keeps the stock rejection (use a range frame / bucket grid for
    * wide windows — that path is O(rows) regardless of width).
    * Parsed defensively (r15 ADVICE): a malformed value would
    * otherwise throw NumberFormatException from INSIDE the analyzer
    * rule — surfacing as a baffling analysis failure on any query with
    * a distinct rows-frame window — so non-integers fall back to the
    * default and negatives clamp to 0 (an explicit "disable the arm"
    * knob, restoring the stock rejection). */
  private def maxRowsLag: Int = spark.conf
    .get("spark.graft.rowsDistinct.maxLag", "64")
    .trim.toIntOption.map(math.max(0, _)).getOrElse(64)

  private def targetOf(e: NamedExpression): Option[Target] = e match {
    case a @ Alias(WindowExpression(
        AggregateExpression(f, _, true, None, _),
        WindowSpecDefinition(part,
          Seq(SortOrder(ob: Attribute, dir, no, _)),
          SpecifiedWindowFrame(RangeFrame, lower, upper))), _)
        if part.forall(_.isInstanceOf[Attribute]) &&
          (lower == UnboundedPreceding || lower == CurrentRow ||
            lower.foldable) &&
          (upper == CurrentRow || upper.foldable) &&
          // integral order keys; DATE order keys with integer DAY
          // offsets (round 16): stock Spark validates (DateType,
          // IntegerType) range frames — `ORDER BY d RANGE 7 PRECEDING`
          // — and epoch days ARE the bucket domain, so the same
          // difference array serves them via unix_date(); TIMESTAMP
          // order keys with DayTimeInterval offsets (round 17, r16
          // verdict item 2): `RANGE INTERVAL '7' DAY PRECEDING` — a
          // day-time interval is a FIXED number of microseconds and
          // timestamps bucket to epoch micros via unix_micros(), so
          // the identical machinery serves event-time frames now that
          // the SPARSE lowering makes a micros-granular bucket domain
          // cost ∝ data instead of ∝ span. YearMonthInterval offsets
          // stay unclaimed for every key type: month buckets are not
          // fixed-width.
          (integral(ob.dataType) || ob.dataType == DateType ||
            ob.dataType == TimestampType) =>
      // a RANGE boundary as a signed bucket offset: CURRENT ROW = 0;
      // for integral/DATE keys a foldable INTEGRAL-TYPED value =
      // itself (negative = PRECEDING) — the type check is load-bearing
      // for DATE order keys: a YearMonthInterval boundary also evals
      // to an int — of MONTHS — and would silently be read as days;
      // for TIMESTAMP keys a foldable DAY-TIME-INTERVAL value = its
      // micros (the only boundary type whose bucket width is fixed;
      // integer bounds over a timestamp are stock-INVALID and claiming
      // them would legalize a frame stock Spark rejects, so they stay
      // unclaimed).
      val tsKey = ob.dataType == TimestampType
      def offsetOf(b: Expression): Option[Long] = b match {
        case CurrentRow => Some(0L)
        case e2 if e2.foldable &&
            (if (tsKey) e2.dataType.isInstanceOf[DayTimeIntervalType]
             else integral(e2.dataType)) =>
          e2.eval() match {
            case n: Number => Some(n.longValue)
            case _         => None
          }
        case _ => None
      }
      val desc = dir == Descending
      kindIdOf(f).flatMap { case (k, id) =>
        (lower, upper) match {
          // cumulative arm, BOTH directions (round 15): NULLS FIRST
          // rides the −∞ sentinel fold (null peer group included in
          // every non-null frame); NULLS LAST rides the MIRROR lowering
          // — non-null frames exclude the null peers, null rows see the
          // whole partition (groupedCumulativeDistinctSumNullsLast).
          // DESC ("distinct from here FORWARD" — the remaining-reach
          // curve) negates the bucket domain exactly like the finite
          // frames: on the negated axis DESC NULLS FIRST ≡ ASC NULLS
          // FIRST and DESC NULLS LAST ≡ ASC NULLS LAST, so both
          // lowerings serve all four quadrants.
          case (UnboundedPreceding, CurrentRow) =>
            Some(Target(a, id, part.map(_.asInstanceOf[Attribute]), ob,
              None, k, negate = desc, nullsLast = no == NullsLast))
          // CUMULATIVE-TO-AN-OFFSET (round 16): [UNBOUNDED PRECEDING,
          // u] for any foldable u — "everything up to m buckets ago"
          // (u < 0) or "everything up to m buckets ahead" (u > 0) —
          // is the SAME cumulative array evaluated at the shifted
          // bucket b+u: probe joins at b+u over a spine widened by
          // the shift; all four direction × null-ordering quadrants
          // ride the existing two lowerings unchanged (measured in
          // DuckDB: null-key rows keep their peer-group/whole-
          // partition frames exactly as under the CURRENT ROW upper,
          // and non-null frames include/exclude the null peers by
          // null ordering exactly as the sentinel/mirror arms do).
          case (UnboundedPreceding, up) =>
            offsetOf(up).collect {
              case u if math.abs(u) <= MaxAbsOffset =>
                Target(a, id, part.map(_.asInstanceOf[Attribute]), ob,
                  None, k, negate = desc, nullsLast = no == NullsLast,
                  mPreceding = -u)
            }
          case _ =>
            // finite frame, ANY foldable bounds lo ≤ hi (round 16,
            // r15 verdict item 2 + the straddling generalization):
            // canonicalize [lo, hi] to the trailing interval
            // [b−n, b−m] on a possibly-negated bucket axis.
            //   hi ≤ 0       → (n, m) = (−lo, −hi), axis as-is
            //                  (m > 0 = the strictly-offset frame);
            //   lo ≥ 0       → the FOLLOWING mirror: negate the axis,
            //                  (n, m) = (hi, lo);
            //   lo < 0 < hi  → STRADDLING: the trailing-(hi−lo+1)
            //                  window probed at the FUTURE bucket
            //                  b+hi — (n, m) = (−lo, −hi) with m
            //                  NEGATIVE, the same shifted-probe
            //                  machinery in the other direction.
            // Null order keys form ONE peer group whose frame is
            // itself under EITHER null ordering and ANY finite bounds
            // (measured in DuckDB — strictly-preceding AND straddling
            // frames), so both NULLS FIRST and NULLS LAST are
            // eligible; DESC composes with the FOLLOWING mirror by
            // XOR.
            for {
              lo <- offsetOf(lower)
              hi <- offsetOf(upper)
              if lo <= hi
              // magnitude guards before any negation/subtraction:
              // keeps −lo / hi−lo and the Long operator width
              // w = n−m+1 = hi−lo+1 overflow-free (the width is Long
              // since round 17 — micros-granular frames need it; the
              // old Int cap is gone with the dense spine)
              if lo >= -MaxAbsOffset && hi <= MaxAbsOffset &&
                hi - lo <= MaxAbsOffset
            } yield {
              val (n, m) = if (lo >= 0) (hi, lo) else (-lo, -hi)
              Target(a, id, part.map(_.asInstanceOf[Attribute]), ob,
                Some(n), k, negate = desc ^ (lo >= 0), mPreceding = m)
            }
        }
      }
    case _ => None
  }

  /** A rows-frame boundary as a row offset: CURRENT ROW = 0, a
    * foldable integer literal = itself (negative = PRECEDING, positive
    * = FOLLOWING). Unbounded endpoints return None — a partition-sized
    * tap count is exactly what the cap exists to refuse. */
  private def rowOffsetOf(b: Expression): Option[Long] = b match {
    case CurrentRow => Some(0L)
    case e if e != UnboundedPreceding && e != UnboundedFollowing &&
        e.foldable =>
      e.eval() match {
        case n: Number => Some(n.longValue)
        case _ => None
      }
    case _ => None
  }

  private def rowsTargetOf(e: NamedExpression): Option[RowsTarget] =
    e match {
      case a @ Alias(WindowExpression(
          AggregateExpression(f, _, true, None, _),
          WindowSpecDefinition(part, order,
            SpecifiedWindowFrame(RowFrame, lower, upper))), _)
          if order.nonEmpty =>
        for {
          (k, id) <- kindIdOf(f)
          lo <- rowOffsetOf(lower)
          hi <- rowOffsetOf(upper)
          // maxLag <= 0 unclaims ALL rows frames (r16 ADVICE: with the
          // old bounds alone, the degenerate [0, 0] frame still passed
          // every check at cap 0, so "0 disables the arm" was a lie)
          if maxRowsLag > 0
          // magnitude bounds FIRST (r15 review: math.abs(Long.MinValue)
          // is negative and hi − lo can wrap, so an extreme literal —
          // e.g. a hand-built Literal(Long.MinValue) frame — would
          // otherwise slip past the cap and truncate at toInt); the
          // span check is then overflow-free
          if lo >= -maxRowsLag.toLong && lo <= maxRowsLag.toLong &&
            hi >= -maxRowsLag.toLong && hi <= maxRowsLag.toLong &&
            lo <= hi && hi - lo <= maxRowsLag
        } yield RowsTarget(a, id, part, order, lo.toInt, hi.toInt, k)
      case _ => None
    }

  private def anyTargetOf(e: NamedExpression): Option[AnyTarget] =
    targetOf(e).orElse(rowsTargetOf(e))

  /** A window expression the rule can leave to stock Spark: anything
    * WITHOUT a distinct aggregate (plain aggs, rank functions, lag…).
    * An ineligible DISTINCT expression (e.g. a rows frame wider than
    * the tap cap, or an unbounded rows frame) keeps the whole node
    * unclaimed so CheckAnalysis rejects it exactly as stock Spark
    * would. */
  private def plainWindowExpr(e: NamedExpression): Boolean =
    !e.exists {
      case ae: AggregateExpression => ae.isDistinct
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      // MIXED nodes are claimed too: ExtractWindowExpressions groups
      // every compatible window expression into ONE Window node, so
      // `count(DISTINCT x) OVER w` beside `sum(y) OVER w` lands in one
      // node — the rule splits it (plain expressions stay a stock
      // Window, distinct targets become difference-array joins) instead
      // of letting one distinct aggregate poison the whole node.
      case w: Window if w.resolved && w.windowExpressions.nonEmpty && {
          val (ts, rest) =
            w.windowExpressions.partition(e => anyTargetOf(e).isDefined)
          ts.nonEmpty && rest.forall(plainWindowExpr)
        } =>
        rewrite(w)
    }

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  private def rewrite(w: Window): LogicalPlan = {
    val (targetExprs, rest) =
      w.windowExpressions.partition(e => anyTargetOf(e).isDefined)
    val allTargets = targetExprs.map(e => anyTargetOf(e).get)
    val targets = allTargets.collect { case t: Target => t }
    val rowsTargets = allTargets.collect { case t: RowsTarget => t }
    // plain window expressions stay a stock Window node UNDER the
    // difference-array joins (their attributes ride the probe side
    // untouched, original exprIds preserved)
    val base: LogicalPlan =
      if (rest.isEmpty) w.child else w.copy(windowExpressions = rest)
    val childDf = ColumnShim.ofRows(spark, base)
    var acc: DataFrame = childDf
    // TARGET COALESCING: all targets over the same (id, partition,
    // order, frame) signature share ONE difference-array lookup and
    // ONE back-join — `count(DISTINCT x)` and `sum(DISTINCT x)` in one
    // window node cost one frame, not two (the dual frame carries both
    // running aggregates anyway).
    // the id component is the CANONICALIZED expression tree (since
    // round 16 the target may be any deterministic expression, which
    // has no exprId; canonicalized equality is collision-free where a
    // semanticHash key would not be)
    type Sig =
      (Expression, Seq[Long], Long, Option[Long], Long, Boolean, Boolean)
    def sigOf(t: Target): Sig = (t.id.canonicalized,
      t.part.map(_.exprId.id), t.order.exprId.id, t.nPreceding,
      t.mPreceding, t.negate, t.nullsLast)
    val groupNames = scala.collection.mutable.Map.empty[Sig, (String, String)]
    val outNames = targets.map { t =>
      val sig = sigOf(t)
      val needsSum =
        targets.exists(o => sigOf(o) == sig && o.kind != CntKind)
      if (groupNames.contains(sig)) groupNames(sig)
      else {
      val u = seq.incrementAndGet()
      val gNames = t.part.indices.map(j => s"__rd_g${j}_$u")
      val bName = s"__rd_b_$u"
      val idName = s"__rd_id_$u"
      val cntName = s"__rd_cnt_$u"
      val sumName = s"__rd_sum_$u"
      // DESC and FOLLOWING-side frames are LEADING in bucket space;
      // negating the bucket turns either (or their composition) into
      // the identical trailing-ASC problem (nulls stay null through
      // negation, so the null arm is unchanged)
      def bucketOf: Column = {
        val raw = ColumnShim.column(t.order)
        // DATE order keys bucket to epoch DAYS (unix_date) — the unit
        // stock Spark's (DateType, IntegerType) range frames use;
        // TIMESTAMP keys to epoch MICROS (unix_micros) — the unit a
        // DayTimeInterval boundary evaluates to (round 17; the sparse
        // lowering makes the micros domain affordable); integral keys
        // are their own bucket domain
        val c =
          if (t.order.dataType == DateType) unix_date(raw)
          else if (t.order.dataType == TimestampType) unix_micros(raw)
          else raw.cast("long")
        if (t.negate) -c else c
      }
      val proj = childDf
        .select(t.part.map(ColumnShim.column) :+ bucketOf :+
          ColumnShim.column(t.id): _*)
        .toDF(gNames ++ Seq(bName, idName): _*)
      // non-null arm: the difference-array frame, one row per
      // (partition, bucket-in-span)
      // spine must span ALL observed buckets, not just id-bearing
      // ones: a row whose id is null still has a trailing frame over
      // the ids before it
      val idBearing = proj.filter(col(idName).isNotNull &&
        col(bName).isNotNull)
      // OFFSET frames (m ≠ 0) evaluate their lowering at the SHIFTED
      // bucket b−m, which need not itself be an observed bucket —
      // widen the spine with the shifted copies so every probe bucket
      // has a frame row (on the observed spine this adds at most one
      // extra spine bucket per observed bucket — ≤2×
      // observed, never span-proportional; duplicated rows cannot
      // change the lowerings' DISTINCT totals or sentinel detection)
      def widened(src: DataFrame): DataFrame =
        if (t.mPreceding == 0L) src
        else src.unionByName(
          src.withColumn(bName, col(bName) - t.mPreceding))
      val obsB = proj.filter(col(bName).isNotNull)
      val spineSrc = Some(widened(obsB))
      val lookup = t.nPreceding match {
        case None if t.nullsLast =>
          // cumulative, ASC NULLS LAST (round 15): the MIRROR
          // lowering — non-null frames are the plain first-occurrence
          // array (no sentinel fold, null peers excluded), null rows
          // get the whole-partition totals as the null-bucket row
          graft.operators.RollingDistinct
            .groupedCumulativeDistinctSumNullsLast(
              proj.filter(col(idName).isNotNull), by = gNames,
              valueCol = idName, bucketCol = bName,
              cntCol = cntName, sumCol = Some(sumName).filter(_ => needsSum),
              spineFrom = Some(widened(proj)))
        case None =>
          // UNBOUNDED PRECEDING (the default frame — cumulative
          // distinct): one first-occurrence difference array serves
          // all three kinds; null order keys fold in as the −∞
          // sentinel (nulls-first peer group INCLUDED in every
          // non-null frame — the measured stock semantics for
          // unbounded range frames, opposite of the finite case), so
          // no separate null arm exists on this path
          graft.operators.RollingDistinct.groupedCumulativeDistinctSum(
            proj.filter(col(idName).isNotNull), by = gNames,
            valueCol = idName, bucketCol = bName,
            cntCol = cntName, sumCol = Some(sumName).filter(_ => needsSum),
            spineFrom = Some(widened(proj)))
        case Some(nPrec) =>
          // count-only signatures carry no sum: they neither pay for it
          // nor overflow int64 summing large ids they never read
          val frame = graft.operators.RollingDistinct.trailing(
            idBearing, by = gNames, valueCol = idName, bucketCol = bName,
            w = nPrec - t.mPreceding + 1, cntCol = cntName,
            sumCol = Some(sumName).filter(_ => needsSum),
            spineFrom = spineSrc, dense = false)
          // null-order-key peer frame: count (AND sum, if carried) of
          // the distinct ids among null-bucket rows (sum_distinct of an
          // all-null / empty set is NULL — matching the naive semantics)
          val naAggs = count_distinct(col(idName)).as(cntName) +:
            (if (needsSum) Seq(sum_distinct(col(idName)).cast("long")
              .as(sumName)) else Nil)
          val nullArm = proj.filter(col(bName).isNull)
            .groupBy(gNames.map(col): _*)
            .agg(naAggs.head, naAggs.tail: _*)
            .withColumn(bName, lit(null).cast("long"))
            .select(frame.columns.map(col): _*)
          frame.unionByName(nullArm)
      }
      // the probe joins at the SHIFTED bucket for strictly-offset
      // frames: the frame value of [b−n, b−m] is the trailing-(n−m+1)
      // window evaluated at b−m (null buckets shift to null and match
      // the null-arm row under <=>)
      val probeB =
        if (t.mPreceding == 0L) bucketOf else bucketOf - t.mPreceding
      val cond = (t.part.zip(gNames).map { case (p, g) =>
          ColumnShim.column(p) <=> col(g)
        } :+ (probeB <=> col(bName)))
        .reduce(_ && _)
      acc = acc.join(lookup, cond, "left")
        .drop((gNames :+ bName): _*)
      groupNames(sig) = (cntName, sumName)
      (cntName, sumName)
      }
    }
    // ROWS-frame targets (round 15): no join — one lag/lead tap per
    // frame offset in one WindowExec over the probe side, then
    // array_distinct over the non-null entries. The taps ride the
    // ORIGINAL order spec verbatim, so whatever row order the naive
    // frame would see, the taps see too (ties resolve identically:
    // same sort, same WindowExec). Targets sharing one (id, partition,
    // order, frame) signature share ONE tap array (r15 review —
    // count+sum over the same frame cost one tap set, not two; if any
    // sharer needs the exact-64-bit carrier, the shared taps ride the
    // cast — injective on the integral types sum/avg eligibility
    // guarantees, so the count is unchanged).
    // signature components are the CANONICALIZED expression trees, not
    // their semanticHash (r15 ADVICE): structural equality on
    // canonicalized trees is collision-free, while a (rare) hash
    // collision between different specs would silently share one tap
    // array and return wrong results for one target
    type RSig =
      (Expression, Seq[Expression], Seq[Expression], Int, Int)
    def rSigOf(t: RowsTarget): RSig = (t.id.canonicalized,
      t.part.map(_.canonicalized), t.order.map(_.canonicalized),
      t.lo, t.hi)
    val distCols = scala.collection.mutable.Map.empty[RSig, String]
    val rowsOut: Seq[(RowsTarget, String)] = rowsTargets.map { t =>
      import org.apache.spark.sql.expressions.{Window => WApi}
      val sig = rSigOf(t)
      val distName = distCols.getOrElseUpdate(sig, {
        val u = seq.incrementAndGet()
        val dn = s"__rr_dist_$u"
        val orderCols = t.order.map { so =>
          val c = ColumnShim.column(so.child)
          (so.direction, so.nullOrdering) match {
            case (Ascending, NullsFirst)   => c.asc_nulls_first
            case (Ascending, NullsLast)    => c.asc_nulls_last
            case (Descending, NullsFirst)  => c.desc_nulls_first
            case (Descending, NullsLast)   => c.desc_nulls_last
          }
        }
        val wspec = WApi.partitionBy(t.part.map(ColumnShim.column): _*)
          .orderBy(orderCols: _*)
        val idC0 = ColumnShim.column(t.id)
        // sum/avg ride exact 64-bit arithmetic (integral-only
        // eligibility); a count-ONLY signature keeps the original
        // type — array_distinct compares any atomic type
        val needLong = rowsTargets.exists(o =>
          rSigOf(o) == sig && o.kind != CntKind)
        val idC = if (needLong) idC0.cast("long") else idC0
        // one tap per offset in [lo, hi]: lag for the past, lead for
        // the future, the row itself iff 0 ∈ [lo, hi]; a tap past
        // either partition edge is null, exactly the clipped naive
        // frame
        val arr = array((t.lo to t.hi).map {
          case 0          => idC
          case j if j < 0 => lag(idC, -j).over(wspec)
          case j          => lead(idC, j).over(wspec)
        }: _*)
        // nulls drop out exactly as COUNT/SUM(DISTINCT) requires:
        // a tap past the partition edge and a genuinely-null value
        // are both non-frame members
        acc = acc.withColumn(dn,
          array_distinct(filter(arr, e => e.isNotNull)))
        dn
      })
      val u = seq.incrementAndGet()
      val outName = s"__rr_out_$u"
      val dist = col(distName)
      val outCol = t.kind match {
        case CntKind => size(dist).cast("long")
        case SumKind => when(size(dist) > 0,
            org.apache.spark.sql.functions.aggregate(dist, lit(0L),
              (acc0, x) => acc0 + x))
          .otherwise(lit(null).cast("long"))
        case AvgKind => when(size(dist) > 0,
            org.apache.spark.sql.functions.aggregate(dist, lit(0L),
              (acc0, x) => acc0 + x)
              .cast("double") / size(dist).cast("double"))
          .otherwise(lit(null).cast("double"))
      }
      acc = acc.withColumn(outName, outCol)
      (t, outName)
    }
    val analyzed = acc.queryExecution.analyzed
    val childAttrs = w.child.output.map(a =>
      analyzed.output.find(_.exprId == a.exprId).getOrElse(a))
    val aliases = targets.zip(outNames).map {
      case (t, (cn, sn)) =>
        val cntAttr = analyzed.output.find(_.name == cn).getOrElse(
          throw new IllegalStateException(
            s"RollingDistinctRewrite lost its count column $cn"))
        lazy val sumAttr = analyzed.output.find(_.name == sn).getOrElse(
          throw new IllegalStateException(
            s"RollingDistinctRewrite lost its sum column $sn"))
        val nonEmpty = GreaterThan(Coalesce(Seq(cntAttr, Literal(0L))),
          Literal(0L))
        val body = t.kind match {
          case CntKind => Coalesce(Seq(cntAttr, Literal(0L)))
          case SumKind =>
            // SUM over an empty frame is NULL; over a non-empty frame
            // the difference-array running value is exact
            If(nonEmpty, sumAttr, Literal(null, LongType))
          case AvgKind =>
            // AVG(DISTINCT) = exact integer sum / exact integer count
            // in ONE correctly-rounded double division (stock Spark
            // REJECTS the shape, so there is no native semantics to
            // preserve — this exact-sum form is strictly more
            // deterministic than Average's incremental double
            // accumulation); empty frame is NULL
            If(nonEmpty,
              Divide(Cast(sumAttr, DoubleType), Cast(cntAttr, DoubleType)),
              Literal(null, DoubleType))
        }
        Alias(body, t.alias.name)(exprId = t.alias.exprId,
          qualifier = t.alias.qualifier)
    }
    val rowsAliases = rowsOut.map { case (t, name) =>
      val attr = analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalStateException(
          s"RollingDistinctRewrite lost its rows-frame column $name"))
      Alias(attr, t.alias.name)(exprId = t.alias.exprId,
        qualifier = t.alias.qualifier)
    }
    // output contract: child.output ++ windowExpressions attrs in the
    // ORIGINAL order — plain expressions resolve to their stock-Window
    // attributes riding the probe side, targets to the rewrite aliases
    val aliasById = (aliases ++ rowsAliases).map(a => a.exprId -> a).toMap
    val winOut: Seq[NamedExpression] = w.windowExpressions.map { e =>
      aliasById.getOrElse(e.exprId,
        analyzed.output.find(_.exprId == e.exprId).getOrElse(
          throw new IllegalStateException(
            s"RollingDistinctRewrite lost window output ${e.name}")))
    }
    Project(childAttrs ++ winOut, analyzed)
  }
}
