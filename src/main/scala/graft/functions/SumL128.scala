package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, BitwiseAnd, Cast, Coalesce, Expression, Literal, Multiply, ShiftRight}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType}

/** Exact 124-bit integer sum that never leaves the long fast path.
  *
  * Why it exists (SURVEY §5.1 / round-7 verdict item 7): the
  * determinism rewrites of `agg_moments`/`agg_regression`/
  * `agg_conditional` accumulate exact integer-in-disguise moment sums
  * (Σy², Σxy over cent-scaled inputs). A plain `sum(decimal(p,s))` with
  * p > 8 yields a > 18-precision accumulator, which Spark backs by
  * `java.math.BigInteger` — every per-row update allocates. A plain
  * `sum(long)` is codegen'd 64-bit adds, but Σy² over cent-scaled
  * prices (terms ≈ 1.2e14) wraps int64 at ~7.6e4 rows per group — the
  * exact overflow the decimal rewrite was avoiding.
  *
  * This aggregate is the missing middle: a two-long accumulator in base
  * 2^62 updated by pure Catalyst long arithmetic (add / mask / shift —
  * whole-stage-codegen'd, zero allocation), evaluated once per group as
  * `hi·2^62 + lo` in DECIMAL(38,0). Carries propagate through the
  * ARITHMETIC right shift, so two's-complement borrow makes signed
  * inputs exact for free (v = −1 → lo' = 2^62−1, hi' −= 1).
  *
  * Contract:
  *   - input LONG with |v| ≤ 2^61 (call sites here feed ≤ 2^47 terms);
  *     the update `lo + v` with lo ∈ [0, 2^62) then cannot wrap int64.
  *   - exact while |Σ| < 2^123 ≈ 1.06e37 — unbounded for any physical
  *     table (1e12 rows of 1e14-scale terms is 1e26).
  *   - nulls are skipped; an empty/all-null group evaluates to 0 (the
  *     moment-sum convention — callers gate on a separate count).
  *
  * At 100 TB this is the difference between a map-side partial that
  * allocates per row and one that is three long ops per row.
  */
case class SumL128Expr(child: Expression)
    extends DeclarativeAggregate
    with UnaryLike[Expression] {

  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sum_l128 requires BIGINT input, got ${child.dataType.sql}; " +
        "cast the argument explicitly")

  private val Mask = (1L << 62) - 1 // low 62 bits of the accumulator

  private lazy val lo =
    AttributeReference("lo", LongType, nullable = false)()
  private lazy val hi =
    AttributeReference("hi", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lo, hi)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L))

  // s = lo + v (lo < 2^62, |v| ≤ 2^61 → no int64 wrap); digit = s & mask,
  // carry/borrow = s >> 62 (arithmetic shift: −1/−2 for negative s).
  override lazy val updateExpressions: Seq[Expression] = {
    val v = Coalesce(Seq(child, Literal(0L)))
    val s = Add(lo, v)
    Seq(BitwiseAnd(s, Literal(Mask)),
      Add(hi, ShiftRight(s, Literal(62))))
  }

  // lo sides are each in [0, 2^62) → their sum is < 2^63: safe.
  override lazy val mergeExpressions: Seq[Expression] = {
    val s = Add(lo.left, lo.right)
    Seq(BitwiseAnd(s, Literal(Mask)),
      Add(Add(hi.left, hi.right), ShiftRight(s, Literal(62))))
  }

  // hi·2^62 + lo, assembled in decimal (3-ops-per-GROUP, not per row).
  // The outer cast pins the declared dataType regardless of the decimal
  // widths Spark assigns the intermediate multiply/add.
  override lazy val evaluateExpression: Expression = {
    val twoP62 = Literal(Decimal(BigDecimal(2).pow(62)), DecimalType(19, 0))
    Cast(
      Add(
        Multiply(Cast(hi, DecimalType(38, 0)), twoP62),
        Cast(lo, DecimalType(38, 0))),
      DecimalType(38, 0))
  }

  override protected def withNewChildInternal(newChild: Expression): SumL128Expr =
    copy(child = newChild)
}

object SumL128 {
  /** Column form: `sumL128(c)` — c must already be LONG (the input
    * contract is the caller's: |v| ≤ 2^61). Result DECIMAL(38,0). */
  def sumL128(c: Column): Column =
    ColumnShim.column(
      SumL128Expr(ColumnShim.expression(c)).toAggregateExpression())
}
