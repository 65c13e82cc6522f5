package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** F6: decimal rounding with explicit rounding mode — the reference
  * quantizes coordinates with `decimal.Decimal(x).quantize(…,
  * ROUND_HALF_DOWN)` (gdutils/geojson.py) and mixes HALF_DOWN mins with
  * HALF_UP maxes for bbox widening (scripts/catalog_dac_datasets.py).
  *
  * Spark builtins only cover HALF_UP (`round`) and HALF_EVEN (`bround`),
  * so HALF_DOWN is a custom Catalyst `UnaryExpression` with `doGenCode` —
  * it stays inside whole-stage codegen (a Scala UDF here would break the
  * codegen span and force object boxing per row).
  *
  * Semantics note: Python's `Decimal(float)` sees the float's FULL binary
  * expansion (0.1 → 0.1000000000000000055…), so we use
  * `new java.math.BigDecimal(double)` (exact expansion), NOT
  * `BigDecimal.valueOf` (shortest-string), to round exactly like the
  * reference does.
  *
  * `halfDown` skips the `BigDecimal` where no decimal tie is possible, with
  * bit-identical results. For `0 <= s <= 15`, `10^s` is an exact double,
  * so `y = |x|·10^s` is the exact product rounded once: within half an ulp
  * of it. When `y < 2^52` and its fraction is more than 2 ulp(y) away from
  * one half, the exact product lies on the same side of the half as `y`,
  * so it rounds (HALF_DOWN or any other half mode) to `m = floor(y)` or
  * `floor(y) + 1`, the integer nearest `y`. The `BigDecimal` result is
  * then `±m / 10^s` as a double: `doubleValue` divides the exact long `m`
  * (below 2^52) by the exact `10^s`, and IEEE division rounds the exact
  * quotient to nearest, as any correct conversion does. A zero comes out
  * as +0.0 in both (a `BigDecimal` has no -0). Ties, NaN, ±Inf, larger
  * products and other scales take the `BigDecimal` path.
  */
object Rounding {
  def withMode(x: Double, scale: Int, mode: java.math.RoundingMode): Double =
    if (x.isNaN || x.isInfinite) x
    else new java.math.BigDecimal(x).setScale(scale, mode).doubleValue()

  /** 10^0 … 10^15, each exact. */
  private val Pow10 = Array.iterate(1.0, 16)(_ * 10)
  private val TwoTo52 = 4503599627370496.0

  def halfDown(x: Double, scale: Int): Double = {
    val y = if (scale >= 0 && scale < Pow10.length) math.abs(x) * Pow10(scale) else Double.NaN
    val floor = math.floor(y)
    val frac = y - floor
    if (y < TwoTo52 && math.abs(frac - 0.5) > 2 * math.ulp(y)) {
      val m = floor.toLong + (if (frac > 0.5) 1 else 0)
      (if (x < 0) -m else m).toDouble / Pow10(scale)
    } else withMode(x, scale, java.math.RoundingMode.HALF_DOWN)
  }

  def halfUp(x: Double, scale: Int): Double =
    withMode(x, scale, java.math.RoundingMode.HALF_UP)
}

case class RoundHalfDown(child: Expression, scale: Int)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    Rounding.halfDown(input.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Rounding.halfDown($c, $scale)")

  override protected def withNewChildInternal(newChild: Expression): RoundHalfDown =
    copy(child = newChild)

  override def prettyName: String = "round_half_down"
}

object RoundHalfDown {
  /** Column-API entry: `round_half_down($"lat", 3)`. */
  def apply(c: Column, scale: Int): Column =
    ColumnBridge.column(RoundHalfDown(
      Cast(ColumnBridge.expression(c), DoubleType), scale))

  /** SQL registration: `SELECT round_half_down(x, 3)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    ColumnBridge.registerFunction(spark, "round_half_down", { exprs =>
      val scale = exprs(1) match {
        case Literal(i: Int, _) => i
        case other => throw new IllegalArgumentException(
          s"round_half_down scale must be an int literal, got $other")
      }
      RoundHalfDown(Cast(exprs.head, DoubleType), scale)
    })
}
