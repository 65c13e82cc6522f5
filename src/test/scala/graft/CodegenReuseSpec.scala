package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DedupIndex, TextStats}

/** Pins [[GraftSession.codegenReuse]]: a warm JVM compiles each generated
  * class once, also in a new session. Fails if the shared executor
  * classloader or the cache size is dropped, or if a query embeds
  * per-plan state in its generated code (`limit(1).count()` in the
  * dedup-index Bloom probe did). */
class CodegenReuseSpec extends AnyFunSuite with SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val dir = java.nio.file.Files.createTempDirectory("graft_codegen").toString

  /** Documents with near-duplicate pairs, read from parquet (a local
    * relation would be folded by the optimizer and compile nothing):
    * doc `i` and doc `i + 1000` share all but their last word. */
  private lazy val docsPath: String = {
    import spark.implicits._
    (0 until 1060).map { i =>
      val words = (0 until 12).map(j => s"w${(i % 1000 * 7 + j * 13) % 97}")
      (i.toLong, (words :+ s"tail$i").mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$dir/docs")
    s"$dir/docs"
  }

  private def docs(s: SparkSession, from: Long, until: Long): DataFrame =
    s.read.parquet(docsPath).where(col("doc_id") >= from && col("doc_id") < until)

  /** A curation mix of more generated classes than Spark's default cache
    * (100 entries) holds: checks of an overlapping and of a wholly novel
    * batch against a persisted dedup index (both run the Bloom probe),
    * then shingle-pair, MinHash-LSH, SimHash, repetition and
    * exact-substring operators. Every result is computed through the
    * `noop` sink. */
  private def mix(s: SparkSession): Unit = {
    val batch = docs(s, 1000, 1060)
    val novel = docs(s, 0, 20).select(col("doc_id") + 5000 as "doc_id",
      concat(lit("novel "), col("doc_id").cast("string")) as "text")
    val corpus = docs(s, 0, 60)
    Seq(
      DedupIndex.checkBatch(batch, "doc_id", "text", s"$dir/index", minJaccard = 0.5),
      DedupIndex.checkBatch(novel, "doc_id", "text", s"$dir/index", minJaccard = 0.5),
      Dedup.jaccardPairs(corpus.union(batch), "doc_id", "text", n = 3,
        minJaccard = 0.5),
      Dedup.lshCandidatePairs(Dedup.minhashSignatures(corpus, "doc_id", "text",
        n = 3, k = 16), bands = 4, rowsPerBand = 4),
      Dedup.simhashPairs(Dedup.simhash(corpus, "doc_id", "text")),
      TextStats.repetitionStats(corpus, "doc_id", "text"),
      Dedup.exactSubstringDedup(corpus, "doc_id", "text", gramLen = 20)
    ).foreach(_.write.format("noop").mode("overwrite").save())
  }

  test("a new session compiles none of a warm mix larger than the default cache") {
    DedupIndex.build(docs(spark, 0, 60), "doc_id", "text", s"$dir/index", n = 3)
    mix(spark)
    val first = compiles
    val s2 = spark.newSession()
    graft.plans.GraftPlans.install(s2)
    mix(s2)
    assert(compiles == first,
      s"${compiles - first} generated classes were compiled again")
  }
}
