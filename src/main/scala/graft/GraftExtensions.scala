package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** SQL surface for the engine's custom Catalyst expressions.
  *
  * Registers the codegen kernels as named SQL functions so the library is
  * usable from pure `spark.sql(...)` — the reference's `tbl_lazy` users
  * (who live in SQL, reference R/mutate.R:293-351) get the same operator
  * vocabulary without touching the Scala API:
  *
  *   SELECT vec_dot(a, b), shingle_hashes(text, 3),
  *          minhash_sig(hs, 32), simhash64(hs, 32),
  *          sorted_intersect_count(xa, xb) ...
  *
  * Two installation paths:
  *   - config: `spark.sql.extensions=graft.GraftExtensions` at session
  *     build (the standard extension-library mechanism);
  *   - runtime: `GraftExtensions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // COUNT(DISTINCT) OVER (... RANGE n PRECEDING) → the
    // RollingDistinct difference-array plan. A RESOLUTION rule, not an
    // optimizer rule: Spark's DISTINCT_WINDOW_FUNCTION_UNSUPPORTED
    // rejection fires in CheckAnalysis (after the resolution batch),
    // so this is the only injection point that can claim the
    // expression before stock Spark rejects it.
    ext.injectResolutionRule(session =>
      graft.plans.RollingDistinctRewrite(session))
    // bounded integral ROWS frames → the retracting SlidingWindowExec;
    // every other Window node keeps WindowExec
    ext.injectPlannerStrategy(_ =>
      graft.operators.SlidingWindow.SlidingWindowStrategy)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, info, builder) triples for every exposed kernel. */
  val registrations: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      info("vec_dot", "vec_dot(a, b) - fold-ordered double dot product of two float/double arrays"),
      { case Seq(a, b) => VecDot(a, b)
        case args => throw new IllegalArgumentException(
          s"vec_dot takes 2 arguments, got ${args.length}") }),
    ("shingle_hashes",
      info("shingle_hashes", "shingle_hashes(text, n) - distinct word n-gram 60-bit md5 hashes"),
      { case Seq(t, n) => ShingleHashesExpr(t, intArg(n, "n"))
        case args => throw new IllegalArgumentException(
          s"shingle_hashes takes 2 arguments, got ${args.length}") }),
    ("minhash_sig",
      info("minhash_sig", "minhash_sig(hashes, k) - k-permutation MinHash signature"),
      { case Seq(h, k) => MinHashSigExpr(h, intArg(k, "k"))
        case args => throw new IllegalArgumentException(
          s"minhash_sig takes 2 arguments, got ${args.length}") }),
    ("simhash64",
      info("simhash64", "simhash64(hashes, bits) - SimHash sketch over 60-bit hashes"),
      { case Seq(h, b) => SimHashExpr(h, intArg(b, "bits"))
        case args => throw new IllegalArgumentException(
          s"simhash64 takes 2 arguments, got ${args.length}") }),
    ("sorted_intersect_count",
      info("sorted_intersect_count", "sorted_intersect_count(a, b) - merge-count of two sorted bigint arrays"),
      { case Seq(a, b) => SortedIntersectCount(a, b)
        case args => throw new IllegalArgumentException(
          s"sorted_intersect_count takes 2 arguments, got ${args.length}") }),
    ("z_order",
      info("z_order", "z_order(x, y, bits) - Morton bit-interleave of two bucketed non-negative integer keys (multi-dimensional layout clustering)"),
      { case Seq(x, y, b) => InterleaveBits(x, y, intArg(b, "bits"))
        case args => throw new IllegalArgumentException(
          s"z_order takes 3 arguments, got ${args.length}") }),
    ("cms_estimate",
      info("cms_estimate", "cms_estimate(sketch, key) - count estimate for key from a count_min_sketch() binary"),
      { case Seq(sk, k) => CmsEstimate(sk, k)
        case args => throw new IllegalArgumentException(
          s"cms_estimate takes 2 arguments, got ${args.length}") }),
    ("sum_l128",
      info("sum_l128", "sum_l128(x) - exact 124-bit integer sum of BIGINT terms (|x| <= 2^61) as DECIMAL(38,0); two-long base-2^62 accumulator, pure codegen"),
      { case Seq(c) => SumL128Expr(c).toAggregateExpression()
        case args => throw new IllegalArgumentException(
          s"sum_l128 takes 1 argument, got ${args.length}") }),
    ("product_agg",
      info("product_agg", "product_agg(x) - product aggregate (nulls skipped, all-null group is NULL); window-frame capable"),
      { case Seq(c) =>
          ProductExpr(org.apache.spark.sql.catalyst.expressions.Cast(
            c, org.apache.spark.sql.types.DoubleType)).toAggregateExpression()
        case args => throw new IllegalArgumentException(
          s"product_agg takes 1 argument, got ${args.length}") })
  )

  /** Runtime registration on a live session. */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }
}
