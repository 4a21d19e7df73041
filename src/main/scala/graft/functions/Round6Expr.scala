package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Spark's `round(x, 6)` on a double, bit for bit — the 6-decimal freeze
  * every distance goes through before it is ordered or compared, so ties
  * break on id the same way in Spark and in the DuckDB oracle.
  *
  * Spark rounds a double through `BigDecimal.valueOf(x).setScale(6,
  * HALF_UP).doubleValue()`, about 400 ns a value. Most values take a
  * double-only path instead: for |x| < 1e6, p = |x|·1e6 lies within
  * 1.2e-4 of the decimal that `BigDecimal.valueOf` rounds (the product's
  * own error plus half an ulp of x, scaled), so when p's fraction is more
  * than 1e-3 from 0.5, HALF_UP of p picks the same integer n. The
  * result is then n / 1e6 with the sign restored: for |n| < 2^52,
  * `BigDecimal.doubleValue` at scale 6 is that one correctly rounded
  * division. n = 0 gives +0.0, as the BigDecimal form does for -0.0 and
  * tiny negatives. Near-ties, |x| ≥ 1e6 and the rest take the BigDecimal
  * form; NaN and ±Inf pass through unchanged, as in Spark.
  */
object Round6 {
  def compute(x: Double): Double = {
    val a = math.abs(x)
    if (a < 1e6) {
      val p = a * 1e6
      val whole = math.floor(p)
      val frac = p - whole
      if (math.abs(frac - 0.5) > 1e-3) {
        val n = if (frac > 0.5) whole + 1 else whole
        return if (n == 0) 0.0 else if (x < 0) -(n / 1e6) else n / 1e6
      }
    }
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** [[Round6]] as a codegen expression: `eval` and the generated code both
  * call [[Round6.compute]]. */
case class Round6Expr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "round6"
  override protected def withNewChildInternal(c: Expression): Round6Expr = copy(child = c)

  override def nullSafeEval(a: Any): Any = Round6.compute(a.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Round6.compute($a)")
}

object Round6Expr {
  def apply(x: Column): Column = bridge.column(Round6Expr(bridge.expression(x)))
}
