package graft

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{RoundHalfDown, Rounding}

class RoundingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("halfDown matches java BigDecimal HALF_DOWN oracle") {
    // Note: 2.5e-3 etc. are not exact binary ties; the semantics follow the
    // double's exact expansion (like Python's Decimal(float)).
    val cases = Seq(1.2344999, 1.2345001, 39.1025, -39.1025, 0.0, 123.456789)
    for (x <- cases) {
      val expect = new java.math.BigDecimal(x)
        .setScale(3, java.math.RoundingMode.HALF_DOWN).doubleValue()
      assert(Rounding.halfDown(x, 3) == expect, s"x=$x")
    }
  }

  test("exact binary ties round DOWN (toward zero)") {
    // 0.0625 = 2^-4 is exactly representable; at scale 1 it is a true tie.
    assert(Rounding.halfDown(0.0625, 3) == 0.062)
    assert(Rounding.halfDown(-0.0625, 3) == -0.062)
    // HALF_UP control
    assert(Rounding.halfUp(0.0625, 3) == 0.063)
  }

  test("expression evaluates via codegen in a DataFrame plan") {
    val df = Seq(1.2345001, -7.7775, 39.1025).toDF("x")
      .select(RoundHalfDown(col("x"), 3).as("r"))
    val got = df.collect().map(_.getDouble(0)).toSeq
    val want = Seq(1.235, Rounding.halfDown(-7.7775, 3), Rounding.halfDown(39.1025, 3))
    assert(got == want)
  }

  private val scales = Seq(0, 1, 2, 3, 6, 15, 16, 20)

  /** Seeded inputs at every edge of `halfDown`'s fast path: decimal ties
    * at each scale and their neighbours 1 and 2 ulp away, exact binary
    * ties, zeros and tiny values, NaN and infinities, products at and
    * above 2^52, and random bit patterns; each with both signs. */
  private val hard: Seq[Double] = {
    val rnd = new scala.util.Random(20261019L)
    def around(t: Double): Seq[Double] =
      Seq(t, Math.nextUp(t), Math.nextDown(t), Math.nextUp(Math.nextUp(t)),
        Math.nextDown(Math.nextDown(t)))
    val ties = for (s <- scales; p = math.pow(10, s); _ <- 0 until 120;
                    k <- Seq(rnd.nextInt(1000).toDouble,
                      rnd.nextInt(1000000).toDouble * 1000 + rnd.nextInt(1000));
                    x <- around((k + 0.5) / p)) yield x
    val binary = 0.0625 +: (for (m <- 1 to 12; k <- 0 to 16) yield (2 * k + 1) / math.pow(2, m))
    val large = for (s <- scales; p = math.pow(10, s); x <- around(4503599627370496.0 / p) ++
                  around(4503599627370495.5 / p) ++ around(1e17 / p)) yield x
    val special = Seq(0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 1e-20,
      4e-4, 5e-4, 0.4, 0.5, Double.NaN, Double.PositiveInfinity, 1e300, Double.MaxValue)
    val bits = Seq.fill(400)(longBitsToDouble(rnd.nextLong()))
    (ties ++ binary ++ large ++ special ++ bits).flatMap(x => Seq(x, -x))
  }

  private def sameBits(got: Double, x: Double, s: Int): Unit = {
    val want = Rounding.withMode(x, s, java.math.RoundingMode.HALF_DOWN)
    assert(doubleToRawLongBits(got) == doubleToRawLongBits(want),
      s"x=$x (bits ${doubleToRawLongBits(x)}) scale=$s: got $got, want $want")
  }

  test("halfDown is bit-identical to BigDecimal HALF_DOWN, interpreted and in codegen") {
    // a tie rounds toward zero, and a negative that rounds to zero gives +0.0
    assert(doubleToRawLongBits(Rounding.halfDown(-0.0, 3)) == 0L)
    assert(doubleToRawLongBits(Rounding.halfDown(-4e-4, 3)) == 0L)
    assert(Rounding.halfDown(4503599627370495.5, 0) == 4503599627370495.0)
    // interpreted: `nullSafeEval`, the path ObjectHashAggregate's
    // collect_list(struct(...)) evaluates
    for (s <- scales; x <- hard)
      sameBits(RoundHalfDown(BoundReference(0, DoubleType, nullable = true), s)
        .eval(InternalRow(x)).asInstanceOf[Double], x, s)
    // generated code: repartition keeps ConvertToLocalRelation from
    // evaluating the projection while optimizing
    val df = hard.toDF("x").repartition(1)
      .select(col("x") +: scales.map(s => RoundHalfDown(col("x"), s).as(s"r$s")): _*)
    val rows = df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project [x"),
      df.queryExecution.executedPlan.toString)
    for (r <- rows; (s, i) <- scales.zipWithIndex) sameBits(r.getDouble(i + 1), r.getDouble(0), s)
  }

  test("SQL registration works") {
    RoundHalfDown.register(spark)
    val r = spark.sql("SELECT round_half_down(1.2345001, 3) AS r")
      .collect()(0).getDouble(0)
    assert(r == 1.235)
  }

  test("charEntropy: known values, unicode codepoints, empty null, codegen") {
    import graft.functions.CharEntropy
    val df = Seq(
      ("aaaa", 1L),        // one symbol → H = 0
      ("abab", 2L),        // two equiprobable → H = 1
      ("abcd", 3L),        // four equiprobable → H = 2
      ("aab", 4L),         // H = log2(3) − (2·1)/3
      ("", 5L),            // empty → null
      ("日本日本", 6L)      // non-ASCII codepoints, two equiprobable → 1
    ).toDF("s", "id")
    val got = df.select(col("id"), CharEntropy(col("s")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(0.0))
    assert(got(2L).contains(1.0))
    assert(got(3L).contains(2.0))
    val expect = math.log(3.0) / math.log(2.0) -
      (2.0 * (math.log(2.0) / math.log(2.0))) / 3.0
    assert(math.abs(got(4L).get - expect) < 1e-12)
    assert(got(5L).isEmpty, "empty string must be null")
    assert(got(6L).contains(1.0))
    // evaluates inside whole-stage codegen (no interpreted fallback row);
    // repartition blocks ConvertToLocalRelation from folding the project,
    // and the plan is read AFTER execution so AQE has finalized it
    val q2 = df.repartition(1).select(CharEntropy(col("s")).as("h"))
    q2.collect()
    val plan = q2.queryExecution.executedPlan.toString
    // the `*(n)` star prefix is the WholeStageCodegen marker in toString
    assert(plan.contains("*(1) Project [char_entropy"), plan)
    // SQL registration
    CharEntropy.register(spark)
    assert(spark.sql("SELECT char_entropy('abab') AS h")
      .collect()(0).getDouble(0) == 1.0)
  }

  test("property: idempotent and within half-grid of input (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val x = (rnd.nextDouble() - 0.5) * 2e6
      val r = Rounding.halfDown(x, 3)
      assert(Rounding.halfDown(r, 3) == r, s"not idempotent at $x")
      assert(math.abs(r - x) <= 0.0005 + 1e-9, s"too far at $x")
    }
  }
}
