package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bloom, Rounding}
import graft.io.Layout
import graft.operators.{Sampling, TextStats}

/** Property-based sweeps over the custom kernels. Each property draws a
  * seeded (fully deterministic) sample set from a ScalaCheck Gen and
  * evaluates it in ONE Spark job — randomized coverage without
  * per-sample job overhead or flaky reruns. */
class PropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.pureApply(Gen.Parameters.default, s))
      .take(n).toSeq

  test("property: RoundHalfDown == BigDecimal HALF_DOWN on random doubles") {
    val xs = sample(Gen.chooseNum(-1e6, 1e6), 500, seed = 7L)
    val scales = Seq(0, 1, 2, 3, 6, 15, 16, 20)
    for (s <- scales; x <- xs) {
      val expect = new java.math.BigDecimal(x)
        .setScale(s, java.math.RoundingMode.HALF_DOWN).doubleValue()
      assert(java.lang.Double.doubleToRawLongBits(Rounding.halfDown(x, s)) ==
        java.lang.Double.doubleToRawLongBits(expect), s"x=$x scale=$s")
    }
  }

  test("property: Bloom never false-negative over random key sets") {
    val keys = sample(Gen.identifier.suchThat(_.nonEmpty), 300, seed = 11L)
      .distinct
    val bloom = Bloom.build(keys.toDF("k"), "k", numBits = 8192, numHashes = 5)
    val misses = keys.toDF("k")
      .where(!Bloom.mightContain(col("k"), bloom)).count()
    assert(misses == 0, s"$misses members rejected — impossible for a Bloom")
  }

  test("property: Morton interleave is injective on random in-range pairs") {
    val pairs = sample(Gen.zip(Gen.chooseNum(0L, 65535L),
      Gen.chooseNum(0L, 65535L)), 2000, seed = 13L).distinct
    val n = pairs.toDF("x", "y")
      .select(Layout.interleave(Seq(col("x"), col("y")), bits = 16).as("z"))
      .agg(countDistinct("z")).head().getLong(0)
    assert(n == pairs.size, "distinct (x, y) must give distinct z")
  }

  test("property: withSplit is total and deterministic on random ids") {
    val ids = sample(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue), 1000,
      seed = 17L).distinct
    val out = Sampling.withSplit(ids.toDF("id"), "id", testFraction = 0.2)
    val twice = Sampling.withSplit(ids.toDF("id"), "id", testFraction = 0.2)
    assert(out.where(!col("split").isin("test", "train")).count() == 0)
    assert(out.except(twice).isEmpty && twice.except(out).isEmpty,
      "split must be a pure function of the id")
  }

  test("property: tokenBudgetSelect equals the brute-force greedy prefix " +
    "on a random tie-heavy corpus") {
    // scores on a 9-value grid force big tie bins (the boundary-fill
    // path), token masses 1..50 force uneven prefix sums
    val rows = sample(Gen.zip(Gen.chooseNum(1, 9), Gen.chooseNum(1L, 50L)),
        200, seed = 23L).zipWithIndex
      .map { case ((s, t), i) => (i.toLong, s / 10.0, t) }
    val df = rows.toDF("id", "s", "t")
    val order = df.select(col("id"), col("s"), col("t"),
        Sampling.hash24(col("id"), "budget").as("h")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy { case (id, s, _, h) => (-s, h, id) }
    val total = order.map(_._3).sum
    for (b <- Seq(0L, 1L, total / 7, total / 3, total / 2, 2 * total / 3,
        total - 1, total, total + 5)) {
      var cum = 0L
      val expect = order.takeWhile { case (_, _, t, _) =>
        cum += t; cum <= b }.map(_._1).toSet
      val got = Sampling.tokenBudgetSelect(df, "id", col("s"), col("t"), b)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expect, s"budget $b of $total")
    }
  }

  test("property: packSequences tiles every group exactly on random costs") {
    // random per-row costs (some zero) in random-sized groups: total
    // packed tokens must equal the sum of positive costs, every sequence
    // except each group's last must hold exactly L, and no span may
    // escape [0, L) within its sequence
    val rows = sample(for {
      g <- Gen.chooseNum(0, 6)
      c <- Gen.chooseNum(0L, 40L)
    } yield (g, c), 400, seed = 23L)
      .zipWithIndex.map { case ((g, c), i) => (i.toLong, s"g$g", c) }
    val L = 17L
    val out = Sampling.packSequences(rows.toDF("id", "grp", "cost"),
        "grp", "id", "cost", seqLen = L)
      .select("grp", "seq_no", "tok_start", "tok_end", "seq_offset")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val totalPacked = out.map(s => s._4 - s._3).sum
    assert(totalPacked == rows.map(_._3).filter(_ > 0).sum,
      "packed token total must equal the positive-cost total")
    assert(out.forall(s => s._5 >= 0 && s._5 + (s._4 - s._3) <= L),
      "a span may never escape its sequence window")
    val lastSeq = out.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    out.groupBy(s => (s._1, s._2)).foreach { case ((g, seq), spans) =>
      val filled = spans.map(s => s._4 - s._3).sum
      if (seq != lastSeq(g))
        assert(filled == L, s"($g,$seq) holds $filled, expected $L")
      else assert(filled >= 1 && filled <= L, s"($g,$seq) last-seq fill")
    }
  }

  test("property: dropRepeatedLines is identity when all lines are unique") {
    // doc i's lines embed the doc index → no cross-doc repetition
    val docs = (0 until 60)
      .map(i => (i.toLong, s"alpha$i one\nbeta$i two\ngamma$i three"))
      .toDF("doc_id", "text")
    val out = TextStats.dropRepeatedLines(docs, "doc_id", "text", minDocFreq = 2)
    assert(out.where(col("n_dropped") =!= 0L).count() == 0)
    val diff = out.select(col("id").as("doc_id"), col("clean_text").as("text"))
      .except(docs)
    assert(diff.isEmpty, "unique-line corpus must round-trip unchanged")
  }

  test("property: words() tokens reconstruct the normalized text and " +
    "never contain separator characters (multilingual pool)") {
    // pool spans Latin/digits/punct + CJK + kana + Hangul + Cyrillic +
    // Arabic (incl. a combining mark) + Devanagari matras + accents;
    // locale-changing case mappings (Turkish I) and context-sensitive
    // ones (Greek final sigma: lower('\u03a3') depends on what follows,
    // so stripping separators BEFORE vs AFTER lowercasing diverges)
    // stay out by contract
    val pool = "abcz09 ,.!?\u4e2d\u6587\u7530\u3072\u3089\u30ab\u30ca" +
      "\ud55c\uad6d\uc5b4\u043c\u0438\u0440\u062d\u062c\u0651" +
      "\u0915\u093f\u0924\u00df\u00e9\u00e0\n\t-_"
    val g = org.scalacheck.Gen.listOf(
      org.scalacheck.Gen.oneOf(pool.toSeq)).map(_.mkString)
    val xs = sample(g, 300, seed = 11L)
    val rows = xs.toDF("s").select(col("s"),
        filter(graft.operators.Dedup.words(col("s")),
          w => w =!= lit("")).as("t"))
      .collect()
    rows.foreach { r =>
      val str = r.getString(0)
      val toks = r.getSeq[String](1)
      val expect = str.replaceAll("[^\\p{L}\\p{M}\\p{N}]+", "")
        .toLowerCase(java.util.Locale.ROOT)
      assert(toks.mkString == expect,
        s"'$str': ${toks.mkString("|")} != $expect")
      toks.foreach(t => assert(t.matches("[\\p{L}\\p{M}\\p{N}]+"),
        s"token '$t' of '$str' carries a separator"))
    }
  }

  test("property: BpeEncode tokens reconstruct the word and equal the " +
    "chained encodeWord on random words over the trained alphabet") {
    import graft.operators.Bpe
    val corpus = (Seq.fill(13)("international") ++ Seq.fill(7)("internet") ++
      Seq.fill(5)("nation") ++ Seq.fill(3)("intern"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val m = Bpe.train(corpus, "text", k = 12)
    val g = org.scalacheck.Gen.listOfN(12,
      org.scalacheck.Gen.oneOf("internatiol".toSeq)).map(_.mkString)
    val words = sample(g, 200, seed = 13L).distinct
    val rows = words.toDF("w").select(col("w"),
        Bpe.encodeWord(col("w"), m).as("chain"),
        graft.functions.BpeEncode(col("w"), m).as("expr"))
      .collect()
    rows.foreach { r =>
      val w = r.getString(0)
      val chain = r.getSeq[String](1)
      val expr = r.getSeq[String](2)
      assert(chain == expr, s"'$w': $chain vs $expr")
      assert(expr.mkString == w, s"'$w' not reconstructed: $expr")
    }
  }

  test("property: fimTransform is lossless — prefix+middle+suffix " +
    "reassemble the original on random multilingual strings") {
    val pool = "abcz09 ,.!?\u4e2d\u6587\u3072\ud55c\u043c\u0438" +
      "\u0915\u093f\u00e9"
    val g = org.scalacheck.Gen.listOf(
      org.scalacheck.Gen.oneOf(pool.toSeq)).map(_.mkString)
    val xs = sample(g, 200, seed = 17L).distinct
    val rows = xs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = TextStats.fimTransform(rows, "doc_id", "text", fimRate = 1.0)
      .join(rows, Seq("doc_id")).collect()
    out.foreach { r =>
      val orig = r.getAs[String]("text")
      val t = r.getAs[String]("text_out")
      assert(r.getAs[Long]("fim_applied") == 1L)
      assert(t.startsWith("<PRE>"), t)
      val sufAt = t.indexOf("<SUF>"); val midAt = t.indexOf("<MID>")
      assert(sufAt >= 5 && midAt > sufAt, t)
      val pre = t.substring(5, sufAt)
      val suf = t.substring(sufAt + 5, midAt)
      val mid = t.substring(midAt + 5)
      assert(pre + mid + suf == orig, s"'$orig' != '$pre|$mid|$suf'")
    }
  }
}
