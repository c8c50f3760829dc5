package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `round(x, 4)` on doubles, bit for bit Spark's
  * `BigDecimal.valueOf(x).setScale(4, HALF_UP).doubleValue()`, without
  * building a `Double.toString` and a `BigDecimal` for most rows.
  * See [[Round4.round]] for the fast path and why it is exact. */
case class Round4(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"round4 expects a double, got ${child.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "round4"

  override protected def nullSafeEval(x: Any): Any =
    Round4.round(x.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.Round4.round($x)")

  override protected def withNewChildInternal(c: Expression): Round4 =
    copy(child = c)
}

object Round4 {

  /** `c` cast to double and rounded half-up to 4 decimals. */
  def of(c: Column): Column =
    ColumnShim.column(Round4(ColumnShim.expression(c.cast(DoubleType))))

  /** Spark's `round(x, 4)` on a double: HALF_UP on the decimal
    * `Double.toString(x)` (`BigDecimal.valueOf`), back to the nearest
    * double. NaN and ±Inf pass through; a result of zero is +0.0.
    *
    * Fast path, for |x| < 1e8. Let D be the decimal `Double.toString`
    * prints; D lies in x's rounding interval, so |D − x| ≤ ulp(x)/2 ≤
    * 2^-27. The product y = fl(|x|·1e4) is within ulp(y)/2 ≤ 2^-14 of
    * |x|·1e4 (y < 1e12 < 2^40). Together |y − |D|·1e4| < 2^-27·1e4 +
    * 2^-14 < 1.4e-4. So when y's fractional part is more than 1e-3 from
    * one half, |D|·1e4 rounds half-up to the same integer n as y does,
    * and floor(y + 0.5) computes that n exactly (y and 0.5 are multiples
    * of 2^-13 below 2^40, so the add is exact). The decimal n·10^-4 then
    * converts to the double nearest n/1e4, which is what `BigDecimal.
    * doubleValue` returns for a compact value below 2^52 (it divides
    * `(double) n` by 1e4), and HALF_UP is symmetric in the sign.
    * Everything else — near-ties, |x| ≥ 1e8 — takes the BigDecimal
    * path. */
  def round(x: Double): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else {
      val ax = math.abs(x)
      if (ax < 1e8) {
        val y = ax * 1e4
        val f = y - math.floor(y)
        if (math.abs(f - 0.5) > 1e-3) {
          val n = math.floor(y + 0.5)
          return if (n == 0.0) 0.0 else if (x < 0) -(n / 1e4) else n / 1e4
        }
      }
      slow(x)
    }
  }

  /** The BigDecimal path Spark's `Round` codegen takes. */
  private[functions] def slow(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}
