package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Empty-corpus behavior: a 100 TB pipeline's first run on a new
  * partition is often an EMPTY frame — operators must return empty (or
  * fail loudly by documented design), never crash on a stray head() or
  * an empty reduce. */
class EmptyInputsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val noDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val noVecs =
    Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")

  test("text/dedup operators: empty in, empty out") {
    assert(TextStats.dropRepeatedLines(noDocs, "doc_id", "text", 2).isEmpty)
    assert(TextStats.repetitionStats(noDocs, "doc_id", "text").isEmpty)
    val sh = Dedup.shingleHashRows(noDocs, "doc_id", "text", 3)
    assert(sh.isEmpty)
    assert(Dedup.jaccardPairsFromHashes(sh, 0.5, 1000).isEmpty)
    assert(Dedup.minhashFromHashes(sh, k = 16).isEmpty)
    assert(Dedup.exactGroups(noDocs, "doc_id", md5(col("text"))).isEmpty)
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.componentLabels(noPairs).isEmpty)
    assert(Dedup.nearDupClusters(noPairs).isEmpty)
    assert(Dedup.componentLabels(
      Seq.empty[(String, String)].toDF("id_a", "id_b")).isEmpty)
    assert(Graph.pageRank(noPairs).isEmpty)
    assert(Dedup.exactSubstringDedup(noDocs, "doc_id", "text", 10).isEmpty)
    assert(TextStats.gopherQualityFlags(noDocs, "doc_id", "text").isEmpty)
    assert(Fuzzy.blockedEditJoin(noDocs, "doc_id", col("text"),
      md5(col("text")), maxDist = 2).isEmpty)
    assert(Fuzzy.lengthBandEditJoin(noDocs, "doc_id", col("text"),
      maxDist = 2).isEmpty)
    // BPE: empty corpus learns nothing (both trainers); the encode
    // expression is null-safe and tokenizes the empty word to [""]
    assert(Bpe.train(noDocs, "text", k = 3).isEmpty)
    assert(Bpe.trainBatched(noDocs, "text", k = 3, batch = 2).isEmpty)
    val enc = Seq((1L, Some("ab")), (2L, Some("")), (3L, None))
      .toDF("id", "w")
      .select(col("id"),
        graft.functions.BpeEncode(col("w"),
          Seq(Bpe.Merge("a", "b", 1L))).as("t"))
      .orderBy("id").collect()
    assert(enc(0).getSeq[String](1) == Seq("ab"))
    assert(enc(1).getSeq[String](1) == Seq(""))
    assert(enc(2).isNullAt(1))
    // empty-corpus dedup index: nothing stored, every batch doc keeps
    val dir = java.nio.file.Files
      .createTempDirectory("graft_empty_didx").toString
    graft.operators.DedupIndex.build(noDocs, "doc_id", "text", dir, n = 3)
    val verdicts = graft.operators.DedupIndex.checkBatch(
      Seq((1L, "some brand new words arriving here")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0.5).collect()
    assert(verdicts.length == 1 && verdicts(0).getAs[Boolean]("keep"))
  }

  test("sampling/session operators: empty in, empty out") {
    assert(Sampling.withSplit(noDocs, "doc_id", 0.2).isEmpty)
    assert(Sampling.mixture(noDocs, "text", Map("en" -> 2.0), 1.0,
      "doc_id").isEmpty)
    assert(Sampling.packIntoShards(
      noDocs.withColumn("cost", lit(1L)), "text", "doc_id", "cost", 10L).isEmpty)
    assert(Sampling.packSequences(
      noDocs.withColumn("cost", lit(1L)), "text", "doc_id", "cost", 10L).isEmpty)
    val noEvents = Seq.empty[(Long, Timestamp, Double)]
      .toDF("user_id", "ts", "value")
    assert(Sessions.sessionize(noEvents, Seq("user_id"), "ts", 600).isEmpty)
    // token-budget selection: empty corpus has no boundary bin — the
    // null-boundary branch must return empty, not throw on the agg row
    assert(Sampling.tokenBudgetSelect(noDocs, "doc_id", lit(1.0),
      lit(1L), budget = 100L).isEmpty)
  }

  test("metrics / weighted-sample / keyness on empty input") {
    val noScored = Seq.empty[(Double, Long)].toDF("score", "y")
    assert(Metrics.prCurve(noScored, col("score"), col("y")).isEmpty)
    assert(Metrics.calibrationBins(noScored, col("score"), col("y")).isEmpty)
    // one-row reducers on empty input: defined-null, not a crash
    val aucRow = Metrics.auc(noScored, col("score"), col("y")).collect().head
    assert(aucRow.isNullAt(aucRow.fieldIndex("auc")))
    val eceRow = Metrics.ece(noScored, col("score"), col("y")).collect().head
    assert(eceRow.isNullAt(eceRow.fieldIndex("ece"))
      && eceRow.isNullAt(eceRow.fieldIndex("mce")))
    // PSI keeps its documented one-row shape even for two empty stores
    // (smoothing makes every bin p = q = 1/bins → psi exactly 0)
    val noHist = Seq.empty[(Double, Long, Long)].toDF("score", "n_pos", "n_neg")
    val psiRows = Metrics.psiFromHistograms(noHist, noHist).collect()
    assert(psiRows.length == 1)
    assert(psiRows.head.getAs[Long]("n_ref") == 0L
      && psiRows.head.getAs[Long]("n_cur") == 0L
      && psiRows.head.getAs[Double]("psi") == 0.0)
    assert(Sampling.weightedSample(noDocs.withColumn("w", lit(1.0)),
      "text", "doc_id", col("w"), k = 3).isEmpty)
    val noLangDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    assert(TextStats.keyness(noLangDocs, "lang", "text", "en").isEmpty)
  }

  test("LM / multimodal / calendar renderers on empty input") {
    // empty corpus: the bigram model has nothing to train on — empty out
    assert(TextStats.bigramLm(noDocs, "doc_id", "text").isEmpty)
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "media")
      .withColumn("meta", struct(lit("fake/raw").as("format"),
        lit(0).as("width"), lit(0).as("height"), lit(0L).as("n_bytes")))
    assert(Multimodal.frameSampleDecoded(noMedia, everyN = 2).isEmpty)
    // an empty (but well-formed) calendar pivot renders a headers-only
    // artifact on BOTH backends rather than crashing on an empty extent
    val emptyCal = Seq.empty[(Long, java.lang.Double)].toDF("year", "m1")
    val svg = graft.io.CalendarSvg.render(emptyCal)
    assert(svg.startsWith("<svg") && svg.endsWith("</svg>"))
    val png = graft.io.CalendarPng.render(emptyCal)
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png)) != null)
  }

  test("similarity: empty corpus/queries empty out; moments loud by design") {
    assert(Similarity.bruteForceTopK(noVecs, noVecs, "vec_id", "embedding",
      k = 5).isEmpty)
    val e = intercept[IllegalArgumentException](
      Pca.moments(noVecs, "embedding", 4))
    assert(e.getMessage.contains("empty"))
    // residual IVF-PQ: empty corpus → zero-slab codebook, empty result —
    // no throw anywhere in train/encode/probe (the useful behavior for a
    // filtered-to-nothing partition of a larger job)
    assert(graft.operators.Pq.ivfPqTopK(noVecs, noVecs, "vec_id",
      "embedding", k = 5, nCentroids = 4, nProbe = 2,
      residual = true).isEmpty)
    // container sniffing: null payload row sniffs to null, not a throw
    val nullMedia = Seq((1L, null: Array[Byte])).toDF("media_id", "media")
    assert(graft.operators.Multimodal.sniffContainerMeta(nullMedia)
      .where(col("container_meta").isNotNull).isEmpty)
    // OPQ: learning a rotation from an empty corpus is the same loud
    // moments error as PCA (there is no "identity default" — a silent
    // fallback would quietly serve unrotated codes); APPLYING a known
    // rotation to an empty frame is empty out
    val e2 = intercept[IllegalArgumentException](
      graft.operators.Opq.rotationFromPca(noVecs, "embedding", 4, 2))
    assert(e2.getMessage.contains("empty"))
    val ident = Array.tabulate(4, 4)((i, j) => if (i == j) 1.0 else 0.0)
    assert(graft.operators.Opq.rotate(noVecs, "embedding", ident).isEmpty)
    // semantic decontamination: empty eval keeps everything; empty
    // corpus returns empty — neither side throws
    val oneVec = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    assert(Similarity.semanticDecontaminate(oneVec, noVecs, "vec_id",
      "embedding", 0.9).count() == 1L)
    assert(Similarity.semanticDecontaminate(noVecs, oneVec, "vec_id",
      "embedding", 0.9).isEmpty)
    // the LSH pre-pruned variant: same empty-side contract (dim must
    // match the hyperplanes here — bandValues fails loudly otherwise)
    assert(Similarity.semanticDecontaminateLsh(oneVec, noVecs, "vec_id",
      "embedding", 0.9, planes = 8, bands = 2, dim = 2).count() == 1L)
    assert(Similarity.semanticDecontaminateLsh(noVecs, oneVec, "vec_id",
      "embedding", 0.9, planes = 8, bands = 2, dim = 2).isEmpty)
  }

  test("as-of/range joins: empty right keeps left with null payload") {
    val t = Seq(("A", Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
      .toDF("sym", "ts", "trade_id")
    val noQuotes = Seq.empty[(String, Timestamp, Double)]
      .toDF("sym", "ts", "q_px")
    val out = AsOf.asofJoinBackward(t, noQuotes, Seq("sym"), "ts", "ts",
      Seq("q_px")).collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("q_px")))
  }
}
