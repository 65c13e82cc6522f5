package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamContamination

class StreamContaminationSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val benchmark = Seq(
    "the quick brown fox jumps over dogs",
    "eval question about spark shuffles here"
  ).toDF("text")

  private lazy val filter =
    StreamContamination.benchmarkFilter(benchmark, "text", n = 3)

  test("batch flags: overlapping shingle caught, clean text clean") {
    val docs = Seq(
      (1L, "training doc with the quick brown fox inside"), // shares 3-gram
      (2L, "completely unrelated corpus material talking weather"),
      (3L, "question about spark shuffles here verbatim tail"), // shares
      (4L, "")
    ).toDF("doc_id", "text")
    val out = StreamContamination.flag(docs, "text", filter)
      .select("doc_id", "contaminated").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L) && out(3L), "contaminated docs must be flagged")
    assert(!out(2L) && !out(4L), "clean/empty docs must pass")
    assert(out.size == 4)
  }

  test("stateless sampling ops run unchanged on streams (split, mixture)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDS().toDF("doc_id", "lang")
    // withSplit and mixture are pure hash-threshold projections — no
    // state, no watermark: the SAME operator object works on a stream
    val q = graft.operators.Sampling.mixture(
        graft.operators.Sampling.withSplit(src, "doc_id", testFraction = 0.2),
        "lang", Map("en" -> 2.0), defaultWeight = 1.0, idCol = "doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("sampling_stream").start()
    try {
      val rows = (0L until 50L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      mem.addData(rows)
      q.processAllAvailable()
      val stream = spark.table("sampling_stream")
        .select("doc_id", "split", "epoch").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val batch = graft.operators.Sampling.mixture(
          graft.operators.Sampling.withSplit(
            rows.toDF("doc_id", "lang"), "doc_id", testFraction = 0.2),
          "lang", Map("en" -> 2.0), defaultWeight = 1.0, idCol = "doc_id")
        .select("doc_id", "split", "epoch").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(stream == batch, "stream != batch for stateless sampling")
      assert(batch.exists(_._3 == 1), "en docs must gain a second epoch")
    } finally q.stop()
  }

  test("streaming flags identical to batch (stateless, no watermark)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "training doc with the quick brown fox inside"),
      (2L, "completely unrelated corpus material talking weather"),
      (3L, "question about spark shuffles here verbatim tail"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamContamination.flag(
        mem.toDS().toDF("doc_id", "text"), "text", filter)
      .select("doc_id", "contaminated")
      .writeStream.outputMode("append")
      .format("memory").queryName("contam_out").start()
    try {
      mem.addData(docs.take(1))
      mem.addData(docs.drop(1))
      q.processAllAvailable()
      val stream = spark.table("contam_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val batch = StreamContamination.flag(docs.toDF("doc_id", "text"),
          "text", filter)
        .select("doc_id", "contaminated").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(stream == batch, s"stream $stream != batch $batch")
    } finally q.stop()
  }

  test("flagSemantic: flags == the batch decontamination drop set; " +
    "stream == batch; zero-norm and empty-matrix behavior") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),    // the eval vector itself → flag
      (2L, Seq(0.99, 0.14, 0.0)),  // cos ≈ 0.990 → flag
      (3L, Seq(0.0, 1.0, 0.0)),    // orthogonal → clean
      (4L, Seq(0.6, 0.8, 0.0)),    // cos 0.6 → clean
      (5L, Seq(0.0, 0.0, 0.0))     // zero norm → clean
    )
    val ev = Seq((100L, Seq(2.0, 0.0, 0.0)), (101L, Seq(0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding") // zero-norm eval row must drop
    val mat = StreamContamination.benchmarkMatrix(ev, "embedding")
    assert(mat.length == 1, "zero-norm eval row must be dropped")
    assert(math.abs(mat.head.map(x => x * x).sum - 1.0) < 1e-12,
      "matrix rows must be unit-normalized")
    val cdf = corpus.toDF("vec_id", "embedding")
    val flags = StreamContamination.flagSemantic(cdf, "embedding", mat,
        minCosine = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> false), s"flags: $flags")
    // flag set == exactly the batch op's drop set
    val kept = graft.operators.Similarity.semanticDecontaminate(cdf,
        ev, "vec_id", "embedding", minCosine = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(flags.filter(!_._2).keySet == kept,
      s"clean set ${flags.filter(!_._2).keySet} != batch kept $kept")
    // empty matrix flags nothing
    assert(StreamContamination.flagSemantic(cdf, "embedding",
      Array.empty[Array[Double]], 0.95)
      .where(col("contaminated")).isEmpty)
    // stream == batch (stateless map-side expression, no watermark)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamContamination.flagSemantic(
        mem.toDS().toDF("vec_id", "embedding"), "embedding", mat, 0.95)
      .select("vec_id", "contaminated")
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_contam_out").start()
    try {
      mem.addData(corpus.take(2))
      mem.addData(corpus.drop(2))
      q.processAllAvailable()
      val stream = spark.table("sem_contam_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(stream == flags, s"stream $stream != batch $flags")
    } finally q.stop()
  }

  test("flagSemantic: reference-object expression == plan-literal twin " +
    "bit-for-bit; oversized matrix refused loudly") {
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Long, Seq[Double])] =
      (1L to 100L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()))) ++
        Seq((101L, null),                        // null vector
          (102L, Seq.fill(8)(0.0)),              // zero norm
          (103L, Seq.fill(5)(rnd.nextGaussian()))) // dim mismatch vs matrix
    val df = rows.toDF("vec_id", "embedding")
    val matrix = Array.fill(9)(Array.fill(8)(rnd.nextGaussian())).map { r =>
      val n = math.sqrt(r.map(x => x * x).sum); r.map(_ / n)
    }
    // the production (MaxUnitDot reference object) path and the
    // plan-literal twin must flag identically at every threshold
    for (thr <- Seq(0.2, 0.5, 0.9)) {
      val a = StreamContamination.flagSemantic(df, "embedding", matrix, thr)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      val b = StreamContamination.flagSemanticViaPlanLiteral(
          df, "embedding", matrix, thr)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(a == b, s"expression vs plan-literal flags differ at $thr")
      assert(a.exists(_._2) && a.exists(!_._2),
        s"threshold $thr must split the fixture for the compare to bite")
    }
    // raw kernel bit-for-bit vs the aggregate/greatest fold on every
    // non-null vector (dim-mismatch row included: both sides skip to
    // Double.MinValue)
    val v = col("embedding").cast("array<double>")
    val litForm = aggregate(
      typedLit(matrix.map(_.toSeq).toSeq), lit(Double.MinValue),
      (acc, ev) => greatest(acc, graft.functions.VectorDot(v, ev)))
    val mismatch = df.where(col("embedding").isNotNull)
      .select(graft.functions.MaxUnitDot(v, matrix).as("a"), litForm.as("b"))
      .where(!(col("a") <=> col("b"))).count()
    assert(mismatch == 0L, "MaxUnitDot must equal the fold bit-for-bit")
    // the size guard is loud and names the escape hatch
    val e = intercept[IllegalArgumentException](
      StreamContamination.flagSemantic(df, "embedding", matrix, 0.9,
        maxBytes = 100L))
    assert(e.getMessage.contains("semanticDecontaminateLsh"),
      s"guard must point at the LSH pre-prune: ${e.getMessage}")
  }

  test("semanticDecontaminateLsh: planted paraphrase the n-gram gate " +
    "misses is caught; precision exact and recall >= 0.9 vs the exact " +
    "op; candidates come from an equi-join (no cartesian)") {
    import graft.operators.{Dedup, Similarity}
    // a paraphrase: same meaning, ZERO shared words — no common 3-shingle
    val evalDocs = Seq((100L, "a feline rested calmly upon a heated rug"))
      .toDF("doc_id", "text")
    val corpusDocs = Seq(
      (1L, "the cat sat quietly on the warm mat today"), // paraphrase of 100
      (2L, "weather reports say rain is coming tomorrow afternoon"))
      .toDF("doc_id", "text")
    val ngram = StreamContamination.flag(corpusDocs, "text",
        StreamContamination.benchmarkFilter(evalDocs, "text"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!ngram(1L) && !ngram(2L),
      s"the n-gram gate must MISS the paraphrase (no shared shingle): $ngram")
    // ...but their embeddings are near-identical, and the LSH gate drops it
    val (planes, bands) = Dedup.suggestedHyperplaneConfig(0.95)
    val base = Array(0.8, 0.1, 0.4, 0.2, 0.1, 0.3, 0.05, 0.2)
    val corpusEmb = Seq(
      (1L, base.toSeq),
      (2L, Seq(0.1, 0.9, 0.0, 0.1, 0.4, 0.0, 0.3, 0.2)))
      .toDF("vec_id", "embedding")
    val evalEmb = Seq((100L, base.map(_ * 1.001).zipWithIndex
        .map { case (x, i) => if (i == 0) x + 0.002 else x }.toSeq))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDecontaminateLsh(corpusEmb, evalEmb,
        "vec_id", "embedding", minCosine = 0.95,
        planes = planes, bands = bands, dim = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), s"paraphrase must drop semantically: kept $kept")
    // recall/precision gate vs the exact op on a seeded fixture: 60 base
    // vectors, eval = 15 lightly-perturbed copies (cosine ~0.996) plus 5
    // unrelated randoms
    val rnd = new scala.util.Random(11)
    def gauss(d: Int) = Array.fill(d)(rnd.nextGaussian())
    val baseVecs = (1L to 60L).map(i => (i, gauss(8)))
    val evalVecs =
      baseVecs.take(15).map { case (i, v) =>
        (1000L + i, v.zip(gauss(8)).map { case (x, n) => x + 0.05 * n }.toSeq)
      } ++ (21L to 25L).map(i => (1000L + i, gauss(8).toSeq))
    val corpus = baseVecs.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val ev = evalVecs.toDF("vec_id", "embedding")
    val exactKept = Similarity.semanticDecontaminate(corpus, ev, "vec_id",
      "embedding", 0.95).select("vec_id").collect().map(_.getLong(0)).toSet
    val lshOut = Similarity.semanticDecontaminateLsh(corpus, ev, "vec_id",
      "embedding", 0.95, planes = planes, bands = bands, dim = 8)
    val lshKept = lshOut.select("vec_id").collect().map(_.getLong(0)).toSet
    val exactDropped = (1L to 60L).toSet -- exactKept
    val lshDropped = (1L to 60L).toSet -- lshKept
    assert(exactDropped.size >= 10, s"fixture must plant drops: $exactDropped")
    assert(lshDropped.subsetOf(exactDropped),
      s"precision is exact — LSH may only drop true hits: " +
        s"${lshDropped -- exactDropped}")
    val recall = lshDropped.size.toDouble / exactDropped.size
    assert(recall >= 0.9, s"recall $recall < 0.9 " +
      s"(missed: ${exactDropped -- lshDropped})")
    // candidate generation is an equi-join on (band, bval) — never a
    // cartesian / nested-loop corpus×eval product
    val plan = lshOut.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"LSH pre-prune must plan as an equi-join:\n$plan")
  }

  test("decontamination over 3 verbatim copies of sf0.001's embeddings: " +
    "the kept set is 3 salted copies of the 1x kept set, exact and LSH; " +
    "the LSH bucket guard keeps a planted hot bucket whole") {
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    val emb1 = graft.sources.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding")
    val emb3 = Scale.copies(emb1, "vec_id", 3)
    // the eval side is a fixed benchmark: it does not grow with the corpus
    val eval = emb1.where(col("vec_id") % 97 === 0)
      .select((col("vec_id") + lit(900 * Scale.Salt)).as("vec_id"), col("embedding"))
    def exact(c: DataFrame): DataFrame = Similarity.semanticDecontaminate(c, eval,
      "vec_id", "embedding", minCosine = 0.95).select("vec_id")
    def lsh(c: DataFrame, ev: DataFrame, cap: Int): DataFrame =
      Similarity.semanticDecontaminateLsh(c, ev, "vec_id", "embedding",
        minCosine = 0.99, maxBucketSize = cap).select("vec_id")
    Seq[DataFrame => DataFrame](exact, lsh(_, eval, Int.MaxValue)).foreach { op =>
      val (k1, k3) = (op(emb1), op(emb3))
      assert(k1.count() < emb1.count(), "the eval rows must drop")
      val broke = Scale.holds(Scale.Replicated("vec_id"), 3, k1, k3)
      assert(broke.isEmpty, broke)
    }
    // 2,000 verbatim copies of one eval vector share every band bucket
    val hot = emb1.where(col("vec_id") === 97)
    val planted = spark.range(2000).crossJoin(hot.drop("vec_id"))
      .select((col("id") + lit(800 * Scale.Salt)).as("vec_id"), col("embedding"))
    val corpus = emb3.unionByName(planted)
    val isPlanted = col("vec_id") >= 800 * Scale.Salt && col("vec_id") < 900 * Scale.Salt
    assert(lsh(corpus, eval, Int.MaxValue).where(isPlanted).count() == 0L,
      "guard off: every planted copy of an eval vector drops")
    assert(lsh(corpus, eval, 1000).where(isPlanted).count() == 2000L,
      "guard at 1,000: the hot bucket is pruned in every band, so all planted rows stay")
  }

  test("StreamCurate.curateStateless: stream == batch, gate + scrub + cost") {
    import graft.streaming.StreamCurate
    implicit val sqlCtx = spark.sqlContext
    val prose = (("the curation pipeline reads documents and scores " +
      "that content with care because quality matters here ") * 4) +
      "contact user5@example.com for details"
    val docs = Seq(
      (1L, prose),                       // passes the gate; email scrubbed
      (2L, "too short to pass"),         // word-count band rejects
      (3L, ""))                          // empty rejects
    val gopher = graft.operators.TextStats.GopherParams(minStopwordHits = 1)
    val mem = MemoryStream[(Long, String)]
    val q = StreamCurate.curateStateless(
        mem.toDS().toDF("doc_id", "text"), "text", gopher)
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_stream").start()
    try {
      mem.addData(docs.take(2))
      mem.addData(docs.drop(2))
      q.processAllAvailable()
      val stream = spark.table("curate_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = StreamCurate.curateStateless(
          docs.toDF("doc_id", "text"), "text", gopher).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(stream == batch, s"stream $stream != batch $batch")
      assert(stream.map(_._1) == Set(1L), s"only prose survives: $stream")
      val kept = stream.head
      assert(kept._2.contains("<EMAIL>") && !kept._2.contains("@example.com"),
        s"PII must be scrubbed post-gate: ${kept._2.takeRight(60)}")
      assert(kept._3 > 50L, s"token cost of the scrubbed text: ${kept._3}")
    } finally q.stop()
  }
}
