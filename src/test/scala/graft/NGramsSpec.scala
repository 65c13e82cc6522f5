package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Md5Prefix, NGrams}
import graft.operators.Dedup

/** Pins the two codegen'd hash-path kernels to the formulations they
  * replaced: [[NGrams]] to the window-`lead` stitch and to the
  * `transform`/`slice` lambdas, [[Md5Prefix]] to
  * `conv(substring(md5(s), 1, k), 16, 10)`, through whole-stage codegen
  * and through interpreted evaluation. */
class NGramsSpec extends AnyFunSuite with SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Edge cases first, then seeded random documents over a vocabulary
    * with repeats, CJK (split per codepoint), combining marks and
    * separator runs. */
  private val docs: DataFrame = {
    val edge = Seq("", "   \t  ", "--- !!", "alpha", "alpha beta", "alpha beta gamma",
      "a b c d", "a b c d e", "la la la la la la la", "to be or not to be",
      "日本語のテキスト 東京タワー", "서울 한국어", "café naïve résumé café",
      "é́ कि कि x", "Ünïcödé MIXED case, punct... 42 42")
    val vocab = Seq("the", "a", "cat", "sat", "on", "mat", "the", "a", "x9", "42",
      "東", "京", "語", "한국", "café", "naïve", "कि", "😀", "𐀀x")
    val seps = Seq(" ", "  ", ", ", "\t", "-", "...", "\n")
    val rnd = new scala.util.Random(20261020L)
    val random = (1 to 200).map { _ =>
      Seq.fill(rnd.nextInt(24))(vocab(rnd.nextInt(vocab.size)))
        .map(_ + seps(rnd.nextInt(seps.size))).mkString
    }
    ((edge ++ random).zipWithIndex.map { case (t, i) => (i.toLong, Option(t)) } :+
      (-1L, Option.empty[String])).toDF("id", "text")
  }

  /** The window-`lead` stitch the shingle rows were built with: one row
    * per complete window, keyed by its first word's position. */
  private def leadRows(n: Int): DataFrame = {
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val parts = (0 until n).map(j => if (j == 0) col("w0") else lead(col("w0"), j).over(byDoc))
    docs.select(col("id"), posexplode(Dedup.words(col("text"))).as(Seq("pos", "w0")))
      .select(col("id"), col("pos"), concat_ws(" ", parts: _*).as("s"),
        parts.last.isNotNull.as("_complete"))
      .where(col("_complete"))
      .select("id", "pos", "s")
  }

  /** The interpreted array-lambda formulation, duplicates kept. */
  private def lambdaGrams(w: Column, n: Int): Column =
    transform(
      filter(transform(sequence(lit(0), greatest(size(w) - lit(n), lit(0))),
        i => slice(w, i + lit(1), lit(n))), a => size(a) === lit(n)),
      a => array_join(a, " "))

  private def rows(df: DataFrame): Seq[(Long, Int, String)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted

  /** The expressions whole-stage codegen compiles in `plan`: a stage's
    * nodes down to its input adapters. Each stage is compiled here, so a
    * stage that would fall back to interpreted evaluation fails. */
  private def codegenExpressions(plan: SparkPlan): Seq[Expression] = {
    def stage(p: SparkPlan): Seq[Expression] = p match {
      case _: InputAdapter => Nil
      case _ => p.expressions ++ p.children.flatMap(stage)
    }
    collectWithSubqueries(plan) { case w: WholeStageCodegenExec =>
      CodeGenerator.compile(w.doCodeGen()._2)
      stage(w.child)
    }.flatten
  }

  /** `block` with whole-stage codegen and expression codegen off. */
  private def interpreted[A](block: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try block finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** The kernel's interpreted `eval` of `ws`. */
  private def eval(ws: Seq[String], n: Int): Seq[String] =
    NGrams(Literal.create(ws, ArrayType(StringType)), n).eval().asInstanceOf[ArrayData]
      .toArray[UTF8String](StringType).map(_.toString).toSeq

  test("NGrams equals the window-lead stitch and the array lambdas, n = 1 to 5") {
    for (n <- 1 to 5) {
      def got = rows(docs.select(col("id"),
        posexplode(NGrams(Dedup.words(col("text")), n)).as(Seq("pos", "s"))))
      val want = rows(leadRows(n))
      assert(got == want, s"n = $n")
      assert(interpreted(got) == want, s"n = $n, interpreted")
      assert(want.exists(_._3.isEmpty) == (n == 1),
        "an empty or separator-only text has one empty word")
      // duplicates kept and in order: equal arrays, row by row
      val arrays = docs.where(col("text").isNotNull).select(col("id"),
          Dedup.words(col("text")).as("w"),
          NGrams(Dedup.words(col("text")), n).as("a"),
          lambdaGrams(Dedup.words(col("text")), n).as("b"),
          Dedup.shinglesFromWords(Dedup.words(col("text")), n).as("d"))
        .collect()
      for (r <- arrays) {
        val a = r.getSeq[String](2)
        val at = s"n = $n, id ${r.getLong(0)}"
        assert(a == r.getSeq[String](3), at)
        assert(a.distinct == r.getSeq[String](4), at)
        assert(eval(r.getSeq[String](1), n) == a, at)
      }
    }
  }

  test("NGrams: fewer than n words, exactly n, repeats, null words and " +
    "null arrays, through eval and codegen") {
    assert(eval(Seq("a", "b"), 3).isEmpty)
    assert(eval(Nil, 1).isEmpty)
    assert(eval(Seq("a", "b", "c"), 3) == Seq("a b c"))
    assert(eval(Seq("x", "y", "x", "y", "x"), 2) == Seq("x y", "y x", "x y", "y x"))
    assert(eval(Seq("", ""), 2) == Seq(" "))
    assert(eval(Seq("日", "本", "語"), 2) == Seq("日 本", "本 語"))
    // a null word is skipped, as array_join and concat_ws skip it
    assert(eval(Seq("a", null, "b"), 2) == Seq("a", "b"))
    assert(eval(Seq(null, null), 2) == Seq(""))
    assert(NGrams(Literal.create(null, ArrayType(StringType)), 2).eval() == null)
    def grams = Seq((1L, Seq("a", null, "b", "c")), (2L, null), (3L, Seq("q")))
      .toDF("id", "ws").repartition(2)
      .select(col("id"), NGrams(col("ws"), 2).as("g"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    val want = Map(1L -> Some(Seq("a", "b", "b c")), 2L -> None, 3L -> Some(Nil))
    assert(grams == want)
    assert(interpreted(grams) == want)
    // the null array of a null text: no shingle rows, no shingles
    val nul = docs.where(col("id") === -1L)
    assert(nul.select(explode(NGrams(Dedup.words(col("text")), 1))).count() == 0)
    assert(nul.select(Dedup.shinglesFromWords(Dedup.words(col("text")), 2))
      .head().getSeq[String](0) == Nil)
    intercept[IllegalArgumentException](NGrams(col("ws"), 0))
  }

  test("Md5Prefix equals conv(substring(md5(s), 1, k), 16, 10), k = 1 to 15") {
    val rnd = new scala.util.Random(15L)
    val random = Seq.fill(150) {
      val cps = Seq.fill(rnd.nextInt(40))(rnd.nextInt(5) match {
        case 0 => 0x1F300 + rnd.nextInt(0x300) // emoji, outside the BMP
        case 1 => 0x4E00 + rnd.nextInt(0x5000) // CJK
        case 2 => 0x300 + rnd.nextInt(0x70)    // combining marks
        case _ => 0x20 + rnd.nextInt(0x5F)     // ASCII
      })
      new String(cps.toArray, 0, cps.size)
    }
    val strings = Seq("", " ", "a", "|p2", "😀", "𐀀", "á", "日本語",
      "x" * 100000, "😀" * 5000) ++ random
    val df = (strings.zipWithIndex.map { case (s, i) => (i.toLong, Option(s)) } :+
      (-1L, Option.empty[String])).toDF("id", "s").repartition(3)
    for (k <- 1 to 15) {
      def q = df.select(col("id"), Md5Prefix(col("s"), k).as("got"),
        conv(substring(md5(col("s")), 1, k), 16, 10).cast("long").as("want"),
        Md5Prefix(col("id"), k).as("got_id"),
        conv(substring(md5(col("id").cast("string")), 1, k), 16, 10).cast("long")
          .as("want_id")).collect()
      for (run <- Seq(q, interpreted(q)); r <- run) {
        assert(r.get(1) == r.get(2), s"k = $k, id ${r.getLong(0)}")
        assert(r.get(3) == r.get(4), s"k = $k, id ${r.getLong(0)}")
        if (r.getLong(0) == -1L) assert(r.isNullAt(1), "null in gives null out")
        else assert(r.getLong(1) >= 0 && r.getLong(1) < (1L << (4 * k)))
      }
    }
    // the kernel's interpreted eval, straight from the expression
    for (s <- strings.take(10); k <- Seq(1, 6, 14, 15)) {
      val want = BigInt(org.apache.commons.codec.digest.DigestUtils.md5Hex(
        s.getBytes("UTF-8")).take(k), 16).toLong
      assert(Md5Prefix(Literal(s), k).eval() == want, s"k = $k, '${s.take(8)}'")
    }
    assert(Md5Prefix(Literal.create(null, StringType), 6).eval() == null)
    intercept[IllegalArgumentException](Md5Prefix(col("s"), 16))
  }

  test("NGrams and Md5Prefix run inside whole-stage codegen and compile") {
    val q = docs.repartition(2)
      .select(col("id"), explode(NGrams(Dedup.words(col("text")), 3)).as("s"))
      .select(col("id"), Md5Prefix(col("s"), 15).as("h"),
        Md5Prefix(concat(col("s"), lit("|p2")), 14).as("h2"))
    val got: Seq[Row] = q.collect().toSeq
    val compiled = codegenExpressions(q.queryExecution.executedPlan)
    assert(compiled.exists(_.exists(_.isInstanceOf[NGrams])),
      q.queryExecution.executedPlan.toString)
    assert(compiled.count(_.exists(_.isInstanceOf[Md5Prefix])) >= 2,
      q.queryExecution.executedPlan.toString)
    assert(got.nonEmpty && got.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }
}
