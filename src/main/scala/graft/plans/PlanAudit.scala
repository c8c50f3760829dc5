package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import graft.operators.SlidingWindow.SlidingWindowExec

/** Scale-smell linter for physical plans — the PlanSpec discipline as a
  * user-facing library feature. A correct result off a bad plan is a
  * latent scale bug: at gate size everything fits, at 100 TB a
  * cartesian product, an unpartitioned window, or an unpushed filter is
  * the job. `audit(df)` walks the executed plan (unwrapping AQE) and
  * returns typed findings; CI can fail on severity >= Error the same
  * way the repo's own PlanSpec does, without hand-writing per-query
  * asserts.
  *
  * Checks are heuristic by design (a plan LINTER, not a verifier):
  * every rule names the 100 TB failure mode it guards. Intentional
  * exceptions (a capped brute-force baseline, a broadcast-scalar cross
  * join) are allowed via `allow`.
  */
object PlanAudit {

  sealed trait Severity
  case object Info extends Severity
  case object Warn extends Severity
  case object Error extends Severity

  /** One lint finding: rule id, severity, human message, offending
    * plan-node class name. */
  final case class Finding(rule: String, severity: Severity,
      message: String, node: String)

  /** Audit a DataFrame's EXECUTED plan (AQE wrappers unwrapped to the
    * current physical plan).
    *
    * @param allow rule ids to suppress (declared-intentional shapes)
    */
  def audit(df: DataFrame, allow: Set[String] = Set.empty): Seq[Finding] = {
    val all = scala.collection.mutable.ArrayBuffer.empty[Finding]

    def walk(p: SparkPlan): Unit = {
      val cls = p.getClass.getSimpleName
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case f: FilterExec =>
          // filter whose OWN UNARY-CHAIN scan reports zero pushed
          // filters: the predicate never reached the parquet reader
          // (casts and UDFs block pushdown). The walk stops at any
          // multi-child node (join/union) and at subqueries — a Filter
          // sitting above a join is a post-join predicate, and pairing
          // it with a predicate-free scan on one join side would be a
          // spurious finding (round-9 ADVICE); runs on the same
          // AQE-unwrapped walk as the other rules.
          if (scansUnderLocal(f.child).exists(
              _.metadata.get("PushedFilters").contains("[]")))
            all += Finding("unpushed_filter", Info,
              "a Filter sits above a scan with PushedFilters: [] — " +
                "check the predicate is expressible on the scan " +
                "(casts and UDFs block pushdown)", cls)
        case _: CartesianProductExec =>
          all += Finding("cartesian", Error,
            "cartesian product: |L|x|R| pairs materialize; at scale " +
              "this is the whole job — add an equi-condition, a bin " +
              "join (RangeJoin), or a candidate filter (LSH/prefix)", cls)
        case j: BroadcastNestedLoopJoinExec =>
          // a broadcast side that is PROVABLY one row — an ungrouped
          // aggregate anywhere on it (a p75 threshold, a corpus-stats
          // scalar) — is the acceptable case the Warn message names;
          // recognize it statically instead of forcing an allow() per
          // scalar-join key, so the Warn stays reserved for genuinely
          // unbounded broadcast sides (the declared ANN baselines)
          val build = if (j.buildSide == BuildLeft) j.left else j.right
          if (scalarBounded(build))
            all += Finding("bnl_scalar", Info,
              "broadcast nested-loop join over a 1-row aggregate " +
                "side — O(1) broadcast, safe at any scale", cls)
          else
            all += Finding("bnl_join", Warn,
              "broadcast nested-loop join: per-row rescan of the " +
                "broadcast side; fine for a scalar/1-row side, fatal " +
                "for a real table — check the broadcast side is O(1) " +
                "rows", cls)
        case w: WindowExec if w.partitionSpec.isEmpty =>
          all += globalWindow(cls)
        case w: SlidingWindowExec if w.partitionSpec.isEmpty =>
          all += globalWindow(cls)
        case other =>
          val s = other.simpleStringWithNodeId()
          if (s.contains("UDF") && cls.contains("Project"))
            all += Finding("scala_udf", Warn,
              "Scala UDF in projection: breaks whole-stage codegen " +
                "and null-tracking; prefer " +
                "org.apache.spark.sql.functions or a custom codegen " +
                "Expression", cls)
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    all.toSeq.filterNot(f => allow.contains(f.rule))
  }

  private def globalWindow(cls: String) = Finding("global_window", Warn,
    "window without partitionBy: the whole dataset sorts into ONE " +
      "task; use GlobalWindow's segmented scan for global running " +
      "aggregates", cls)

  /** True when a broadcast-side subtree is statically guaranteed tiny:
    * an ungrouped aggregate (exactly 1 output row) sits on a path of
    * row-count-preserving nodes. The descent is a WHITELIST — only
    * single-child operators that cannot multiply their input's row
    * count pass through (project/filter/sort/limit/exchange/codegen
    * wrappers). A join, union, or generate above the aggregate can be
    * data-sized again (bigTable.crossJoin(bigTable.agg(max(v))) is a
    * data-sized broadcast side containing a scalar agg), so anything
    * unrecognized returns false and keeps the Warn — the conservative
    * contract, now actually enforced (round-9 review finding). */
  private val scalarPassThrough = Set("ProjectExec", "FilterExec",
    "SortExec", "WholeStageCodegenExec", "InputAdapter",
    "ColumnarToRowExec", "ShuffleExchangeExec", "BroadcastExchangeExec",
    "CoalesceExec", "AQEShuffleReadExec", "LocalLimitExec",
    "GlobalLimitExec")
  private def scalarBounded(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => scalarBounded(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scalarBounded(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      scalarBounded(r.child)
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
    case o if scalarPassThrough(o.getClass.getSimpleName) &&
        o.children.size == 1 =>
      scalarBounded(o.children.head)
    case _ => false
  }

  /** All v1 file scans in a subtree, unwrapping AQE the same way the
    * rule walk does. (The repo's sources are all parquet/csv/orc v1
    * `FileSourceScanExec`; a v2 `BatchScanExec` would simply report no
    * scans here and raise no finding — a linter stays conservative.) */
  private def scansUnder(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansUnder(a.executedPlan)
    case s: FileSourceScanExec    => Seq(s)
    case o => (o.children ++ o.subqueries).flatMap(scansUnder)
  }

  /** The scan a Filter actually filters: descend UNARY operators only
    * (project/exchange/sort/agg chains), never across joins/unions or
    * into subqueries — crossing a binary node would attribute the
    * Filter's predicate to a scan it does not constrain. */
  private def scansUnderLocal(p: SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec  => scansUnderLocal(a.executedPlan)
      case s: FileSourceScanExec     => Seq(s)
      case o if o.children.size == 1 => scansUnderLocal(o.children.head)
      case _                         => Seq.empty
    }

  /** True when the plan carries no Error-severity finding. */
  def clean(df: DataFrame, allow: Set[String] = Set.empty): Boolean =
    audit(df, allow).forall(_.severity != Error)
}
