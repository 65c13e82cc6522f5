package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bloom

/** `Bloom.mightContain` holds the filter words by reference, not as a
  * plan literal. */
class BloomProbeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val keys = (0 until 200).map(i => s"key_$i").toDF("k")

  private def filter(bits: Int): Bloom.Filter =
    Bloom.build(keys.where(col("k") < "key_5"), "k", bits, 5)

  test("a probe's plan string has the same length at 2^12 and 2^20 bits") {
    def planLength(bits: Int): Int =
      keys.select(Bloom.mightContain(col("k"), filter(bits)).as("m"))
        .queryExecution.toString.length
    val (small, large) = (planLength(1 << 12), planLength(1 << 20))
    assert(math.abs(large - small) < 300, s"plan string: $small vs $large chars")
  }

  test("the interpreted probe (inside an exists lambda) agrees with the " +
    "generated one") {
    val f = filter(1 << 12)
    val both = keys.select(Bloom.mightContain(col("k"), f).as("direct"),
      exists(array(col("k")), s => Bloom.mightContain(s, f)).as("lambda"))
      .collect()
    assert(both.forall(r => r.getBoolean(0) == r.getBoolean(1)))
    assert(both.count(_.getBoolean(0)) >= keys.where(col("k") < "key_5").count())
  }
}
