package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoder}

/** Bloom filter over md5-double-hashed keys — the semi-join reducer for
  * incremental batch-vs-corpus dedup at 100 TB: build one filter over
  * the corpus fingerprints (a single pass, element-wise-OR partial
  * aggregation — one numBits/8-byte buffer per partition crosses the
  * exchange), broadcast it by literal, and drop the batch rows that
  * cannot match BEFORE the dedup shuffle join. No false negatives ever
  * (a set bit is never cleared), so correctness of the downstream join
  * is untouched; false positives only cost wasted join work, bounded by
  * the classic (1 − e^(−kn/m))^k rate.
  *
  * Hashing is the repo's portable double-hash idiom (the q_d3 MinHash
  * permutations, `Dedup.scala`): bucket_d = (h1 + d·h2) mod numBits with
  * h1 = 60-bit and h2 = 56-bit md5 prefixes — overflow-free in an int64
  * for numHashes ≤ 64 and bit-replayable in DuckDB SQL, so the whole
  * prefilter decision is oracle-able.
  */
object Bloom {

  /** h1/h2 columns for `key`: the documented portable hash idioms —
    * h1 IS `Sampling.hash60` (60-bit md5 prefix); h2 is its 56-bit
    * salted sibling. */
  def h1(key: Column): Column = graft.operators.Sampling.hash60(key)
  def h2(key: Column): Column =
    conv(substring(md5(concat(key.cast("string"), lit("|b2"))), 1, 14), 16, 10)
      .cast("long")

  /** A built filter: the packed words AND the hash count that set them.
    * Carrying numHashes with the bits makes a build/probe mismatch — the
    * one way to manufacture a false NEGATIVE — unrepresentable. */
  final case class Filter(words: Array[Long], numHashes: Int) {
    def numBits: Int = words.length * 64
  }

  /** Typed Aggregator: input = (h1, h2), buffer/output = numBits/64
    * packed words. Merge is element-wise OR. */
  class BloomAgg(numBits: Int, numHashes: Int)
      extends Aggregator[(Long, Long), Array[Long], Array[Long]] {
    require(numBits > 0 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64: $numBits")
    require(numHashes >= 1 && numHashes <= 64,
      s"numHashes must be in [1, 64]: $numHashes") // d·h2 ≤ 64·2^56 < 2^63
    override def zero: Array[Long] = new Array[Long](numBits / 64)
    override def reduce(b: Array[Long], h: (Long, Long)): Array[Long] = {
      var d = 0
      while (d < numHashes) {
        val bucket = ((h._1 + d * h._2) % numBits).toInt
        b(bucket >> 6) |= (1L << (bucket & 63))
        d += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = WordsEncoder
    override def outputEncoder: Encoder[Array[Long]] = WordsEncoder
  }

  /** Derived by Scala reflection once per JVM, not per call: each task
    * deserializes its own [[BloomAgg]] and asks it for both encoders. */
  private val WordsEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()

  /** Build the filter over `keys(keyCol)` in one distributed pass and
    * collect it (numBits/8 bytes — a driver artifact like the PQ
    * codebook; 1 MiB covers ~1 M keys at 5 hashes / ~3% fpp). Null keys
    * are skipped (a null would otherwise die in the tuple encoder with
    * an opaque task error). */
  def build(keys: DataFrame, keyCol: String, numBits: Int,
            numHashes: Int): Filter = {
    val agg = udaf(new BloomAgg(numBits, numHashes),
      ExpressionEncoder[(Long, Long)]())
    Filter(
      keys.where(col(keyCol).isNotNull)
        .select(agg(h1(col(keyCol)), h2(col(keyCol))).as("b"))
        .head().getSeq[Long](0).toArray,
      numHashes)
  }

  /** Membership test column: true iff ALL of the filter's hash bits are
    * set; false for a null key (a null was never inserted). Pure
    * codegen'd builtins over the literal word array — map-side, no UDF,
    * no shuffle. */
  def mightContain(key: Column, bloom: Filter): Column = {
    val words = typedlit(bloom.words.toSeq)
    val k1 = h1(key); val k2 = h2(key)
    val all = (0 until bloom.numHashes).map { d =>
      val bucket = (k1 + lit(d.toLong) * k2) % bloom.numBits
      // word index via shiftright (Column./ is double division); the
      // variable shift amount needs the SQL builtin via call_function
      call_function("shiftrightunsigned",
        element_at(words, shiftright(bucket, 6).cast("int") + 1),
        (bucket % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    coalesce(all, lit(false))
  }
}
