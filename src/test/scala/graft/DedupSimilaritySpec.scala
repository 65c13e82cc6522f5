package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextStats}

class DedupSimilaritySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different words entirely unrelated text here"),
    (4L, "the quick brown fox jumps over the lazy dog")     // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups by fingerprint") {
    val g = Dedup.exactGroups(docs, "doc_id", TextStats.fingerprint(col("text")))
    val dup = g.where($"group_size" > 1).collect()
    assert(dup.length == 1)
    assert(dup(0).getAs[Long]("keeper") == 1L)
    assert(dup(0).getSeq[Long](dup(0).fieldIndex("members")).toSeq == Seq(1L, 4L))
  }

  test("ngram jaccard finds near-dups, exact value") {
    val p = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.3)
      .orderBy("id_a", "id_b").collect()
    // docs 1/2: 7 distinct 3-shingles each, 6 shared → j = 6/8
    val pair12 = p.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(math.abs(pair12.getAs[Double]("jaccard") - 0.75) < 1e-12)
    // exact dup pair → j = 1.0
    val pair14 = p.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(pair14.getAs[Double]("jaccard") == 1.0)
    // unrelated doc 3 appears in no pair
    assert(!p.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("minhash LSH: exact dups always collide; estimate near truth") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = 64)
    val pairs = Dedup.lshCandidatePairs(sig, bands = 16, rowsPerBand = 4).collect()
    val p14 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(p14.getAs[Double]("est_jaccard") == 1.0)
    pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).foreach { p12 =>
      val est = p12.getAs[Double]("est_jaccard")
      assert(est > 0.2 && est <= 1.0)
    }
  }

  test("simhash: identical docs → distance 0; near-dups close") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
    val m = sh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(4L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(2L)) < 20)
    val pairs = Dedup.simhashPairs(sh, maxHamming = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 4L &&
      r.getAs[Long]("hamming") == 0L))
  }

  private lazy val vecs = Seq(
    (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
    (2L, Array(0f, 1f, 0f)), (3L, Array(-1f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("brute-force cosine top-k: exact ranking") {
    val topk = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), "vec_id",
      "embedding", k = 2).orderBy("rank").collect()
    assert(topk.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
    assert(topk(0).getAs[Double]("cosine") > 0.99)
  }

  test("embedding near-dups above threshold only (bucketed default)") {
    val nd = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", 0.9,
      planes = 4, bands = 4, dim = 3).collect()
    assert(nd.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("all-pairs near-dup primitive agrees with bucketed on the toy set") {
    val ap = Dedup.allPairsNearDups(vecs, "vec_id", "embedding", 0.9).collect()
    assert(ap.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("zero-norm vectors are excluded from near-dup pairs (NaN guard)") {
    // a zero vector's cosine is 0/0 = NaN, and NaN >= threshold is TRUE
    // under Spark's ordering — without the norm filter it would pair with
    // every bucket-mate (its sign bits collide with everything) and
    // wrongly merge clusters downstream
    val withZero = vecs.union(Seq((9L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val bucketed = Dedup.embeddingNearDups(withZero, "vec_id", "embedding", 0.9,
      planes = 4, bands = 4, dim = 3).collect()
    assert(bucketed.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
    assert(bucketed.forall(r => !r.getAs[Double]("cosine").isNaN))
    val ap = Dedup.allPairsNearDups(withZero, "vec_id", "embedding", 0.9).collect()
    assert(ap.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  private lazy val sfEmb =
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

  test("bucketed near-dups: exact precision, recall >= 0.75 vs all-pairs (sf0.01)") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.get(0), r.get(1))).toSet
    val bucketed = pairs(Dedup.embeddingNearDups(sfEmb, "vec_id", "embedding",
      0.4, planes = 64, bands = 16, dim = 64))
    val exact = pairs(Dedup.allPairsNearDups(sfEmb, "vec_id", "embedding", 0.4))
    assert(bucketed.subsetOf(exact),
      "bucketed emitted a pair the exact verify refutes — precision must be 1.0")
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.75,
      s"bucketed recall $recall below 0.75 (${bucketed.size}/${exact.size})")
  }

  test("suggestedHyperplaneConfig: S-curve solver values and recall floor") {
    // dedup regime: long bands (r=12) are affordable within 16 bands
    assert(Dedup.suggestedHyperplaneConfig(0.9, 0.9, 16) == (168, 14)) // r=12
    // q_d5's mid threshold: the rule lands on r=4 — the graded config's
    // band length is the 16-band optimum for 0.4, confirming the scale
    // smoke finding that low thresholds cannot prune harder via banding
    assert(Dedup.suggestedHyperplaneConfig(0.4, 0.9, 16) == (56, 14))   // r=4
    for (mc <- Seq(0.3, 0.5, 0.7, 0.9, 0.95); tr <- Seq(0.8, 0.9, 0.99)) {
      val (planes, bands) = Dedup.suggestedHyperplaneConfig(mc, tr, 16)
      val r = planes / bands
      assert(planes % bands == 0 && bands <= 16 || r == 1)
      // achieved recall at exactly the threshold clears the target
      val p = 1.0 - math.acos(mc) / math.Pi
      val achieved = 1.0 - math.pow(1.0 - math.pow(p, r), bands)
      assert(achieved >= tr, s"($mc,$tr): recall $achieved via r=$r b=$bands")
    }
    // bits-per-band grows with the threshold (more pruning affordable)
    val rs = Seq(0.3, 0.5, 0.7, 0.9, 0.95)
      .map(mc => Dedup.suggestedHyperplaneConfig(mc, 0.9, 16))
      .map { case (p, b) => p / b }
    assert(rs == rs.sorted, s"r not monotone in threshold: $rs")
  }

  test("rule config finds deterministic noisy near-dups: recall 1.0 (sf0.01)") {
    // real near-dup embeddings sit at cosine ≥ ~0.95; synthesize them by
    // perturbing one coordinate of every sf0.01 vector (the test data has
    // no natural pairs above 0.7 — see COVERAGE.md scale smoke)
    val noisy = sfEmb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    val both = sfEmb.select(col("vec_id"), col("embedding").cast("array<float>"))
      .union(noisy)
    val (planes, bands) = Dedup.suggestedHyperplaneConfig(0.9, 0.9, 16)
    val found = Dedup.embeddingNearDups(both, "vec_id", "embedding", 0.9,
        planes = planes, bands = bands, dim = 64)
      .where(col("id_b") === col("id_a") + 100000L)
      .count()
    // every (v, v+ε) pair has cosine ≈ 0.999+ where the S-curve is ~1
    assert(found == sfEmb.count(),
      s"rule config missed ${sfEmb.count() - found} of ${sfEmb.count()} planted near-dups")
  }

  test("semanticDedup: keep-min-id within clusters, loners kept, guard drops") {
    // two tight direction-clusters plus an orthogonal loner; nClusters=2
    // seed selection is hash-ordered, so assert semantics, not seeds
    val vs = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.99f, 0.05f, 0f)),  // near-dups
      (3L, Array(0f, 1f, 0f)), (4L, Array(0f, 0.98f, 0.1f)),   // near-dups
      (9L, Array(0f, 0f, 1f))                                  // loner
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vs, "vec_id", "embedding",
      minCosine = 0.95, nClusters = 2).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(3), Option(r.get(2)))).toMap
    // min id of each near-dup group survives; its mate drops iff they
    // share a cluster (2 clusters over 3 directions put SOME pair
    // together — assert exactly the within-cluster drops happen)
    assert(!out(1L)._1 && !out(3L)._1, "cluster minima must be kept")
    val drops = out.count(_._2._1)
    assert(drops >= 1 && drops <= 2, s"expected 1-2 within-cluster drops: $out")
    assert(!out(9L)._1, "orthogonal loner must survive")
    // kmeans refinement keeps the same keep-min semantics
    val refined = Dedup.semanticDedup(vs, "vec_id", "embedding",
      minCosine = 0.95, nClusters = 2, kmeansIters = 2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(!refined(1L) && !refined(3L) && !refined(9L))
    // guard: cap below the cluster sizes → no pairs compared, all kept
    val guarded = Dedup.semanticDedup(vs, "vec_id", "embedding",
      minCosine = 0.95, nClusters = 1, maxClusterSize = 2).collect()
    assert(guarded.length == 5 && guarded.forall(!_.getBoolean(3)))
  }

  test("semanticDecontaminate: near-eval rows drop, orthogonal keep, " +
    "zero-norm rows keep, eval side broadcasts") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),   // the eval vector itself → drop
      (2L, Array(0.99f, 0.14f, 0.0f)), // cos ≈ 0.990 ≥ 0.95 → drop
      (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal → keep
      (4L, Array(0.6f, 0.8f, 0.0f)),   // cos 0.6 → keep
      (5L, Array(0.0f, 0.0f, 0.0f))    // zero norm: no direction → keep
    ).toDF("id", "v")
    // eval at 2× scale: cosine is scale-invariant, so 1 still matches
    val ev = Seq((100L, Array(2.0f, 0.0f, 0.0f))).toDF("id", "v")
    val kept = Similarity.semanticDecontaminate(corpus, ev, "id", "v",
        minCosine = 0.95)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L), s"kept: $kept")
    // a zero-norm eval vector matches nothing
    val zev = Seq((100L, Array(0.0f, 0.0f, 0.0f))).toDF("id", "v")
    assert(Similarity.semanticDecontaminate(corpus, zev, "id", "v", 0.95)
      .count() == 5L)
    // threshold is inclusive on the ROUNDED cosine
    val atThr = Seq((9L, Array(0.95f, math.sqrt(1 - 0.95 * 0.95).toFloat,
      0.0f))).toDF("id", "v")
    assert(Similarity.semanticDecontaminate(atThr, ev, "id", "v", 0.95)
      .count() == 0L)
    // the eval side broadcasts (map-side scoring, no corpus shuffle
    // before the threshold filter)
    val plan = Similarity.semanticDecontaminate(corpus, ev, "id", "v",
      0.95).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"eval side must broadcast:\n$plan")
  }

  test("hardNegatives: label-mismatched, semi-hard band, k-bounded") {
    val vs = Seq(
      (1L, Array(1f, 0f, 0f), 0),        // query, label 0
      (2L, Array(0.99f, 0.14f, 0f), 0),  // same label — excluded
      (3L, Array(0.95f, 0.31f, 0f), 1),  // hard negative (cos ≈ 0.95)
      (4L, Array(0.7f, 0.71f, 0f), 1),   // in-band negative
      (5L, Array(0f, 1f, 0f), 1),        // cos 0 — below band floor
      (6L, Array(1f, 0.001f, 0f), 1)     // cos ≈ 1 — above band ceiling
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(vs, vs.where($"vec_id" === 1), "vec_id",
        "embedding", "label", k = 10, minCosine = 0.1, maxCosine = 0.96)
      .collect()
    val ids = out.map(_.getAs[Long]("neighbor_id")).toSet
    assert(ids == Set(3L, 4L), s"expected the two in-band negatives: ${out.mkString(", ")}")
    assert(out.forall(r => r.getAs[Double]("cosine") >= 0.1 &&
      r.getAs[Double]("cosine") <= 0.96))
    // ranks descend by cosine: 3 before 4
    assert(out.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      == Seq(3L, 4L))
    // k truncates
    val one = Similarity.hardNegatives(vs, vs.where($"vec_id" === 1), "vec_id",
      "embedding", "label", k = 1, minCosine = 0.1, maxCosine = 0.96).collect()
    assert(one.length == 1 && one(0).getAs[Long]("neighbor_id") == 3L)
  }

  test("knnPredict: majority vote, deterministic tie-break, null labels out") {
    // query 1 (label 0) sits in a cloud of three label-1 vectors and two
    // label-0 vectors → k=5 majority predicts 1 (incorrect — by design)
    val vs = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0.99f, 0.1f, 0f), 1), (3L, Array(0.98f, 0.15f, 0f), 1),
      (4L, Array(0.97f, 0.2f, 0f), 1),
      (5L, Array(0.96f, 0.25f, 0f), 0), (6L, Array(0.95f, 0.3f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnPredict(vs, vs.where($"vec_id" === 1), "vec_id",
      "embedding", "label", k = 5).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Int]("predicted_label") == 1 &&
      r.getAs[Long]("votes") == 3L && !r.getAs[Boolean]("correct"), r.toString)
    // 2-2 tie at k=4 → smaller label wins (deterministic)
    val tied = Similarity.knnPredict(vs, vs.where($"vec_id" === 1), "vec_id",
      "embedding", "label", k = 4).collect()(0)
    // k=4 neighbors: 2,3,4 (label 1) + 5 (label 0) → 3-1, still 1; use k=2
    val t2 = Similarity.knnPredict(vs, vs.where($"vec_id" === 1), "vec_id",
      "embedding", "label", k = 2).collect()(0)
    assert(t2.getAs[Int]("predicted_label") == 1 && t2.getAs[Long]("votes") == 2L)
    assert(tied.getAs[Int]("predicted_label") == 1)
    // null-labeled neighbors never vote
    val withNull = Seq(
      (1L, Array(1f, 0f, 0f), Some(0)),
      (2L, Array(0.99f, 0.1f, 0f), None), (3L, Array(0.5f, 0.86f, 0f), Some(2))
    ).toDF("vec_id", "embedding", "label")
    val nv = Similarity.knnPredict(withNull,
      withNull.where($"vec_id" === 1), "vec_id", "embedding", "label", k = 1)
      .collect()(0)
    assert(nv.getAs[Int]("predicted_label") == 2, s"null label must not vote: $nv")
  }

  test("prototypicalityPrune: ceil(f·n) most-central drop per cluster; guard keeps") {
    // one tight cluster of 4 around (1,0,0) — vec 5 sits EXACTLY on the
    // direction others only approximate — plus an orthogonal pair
    val vs = Seq(
      (5L, Array(1f, 0f, 0f)), (6L, Array(0.95f, 0.3f, 0f)),
      (7L, Array(0.95f, -0.3f, 0f)), (8L, Array(0.9f, 0.42f, 0f)),
      (11L, Array(0f, 1f, 0f)), (12L, Array(0f, 0.98f, 0.15f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.prototypicalityPrune(vs, "vec_id", "embedding",
      nClusters = 2, pruneFraction = 0.5).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out.size == 6)
    // per cluster: exactly ceil(0.5·n) dropped, and the dropped ranks are
    // a prefix (most prototypical first)
    out.values.groupBy(_._1).foreach { case (cid, rows) =>
      val n = rows.size
      val dropped = rows.filter(_._4)
      assert(dropped.size == math.ceil(0.5 * n).toInt,
        s"cluster $cid: ${dropped.size} of $n dropped")
      assert(dropped.map(_._3).toSet == (1 to dropped.size).toSet,
        s"cluster $cid: dropped ranks must be the top prefix: $rows")
      // ranks order by cent_cosine desc (rank 1 has the max)
      val byRank = rows.toSeq.sortBy(_._3).map(_._2)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // pruneFraction = 0 keeps everything but still ranks
    val keepAll = Dedup.prototypicalityPrune(vs, "vec_id", "embedding",
      nClusters = 2, pruneFraction = 0.0).collect()
    assert(keepAll.forall(!_.getBoolean(4)))
    // guard: cap below cluster size → rows kept with null rank
    val guarded = Dedup.prototypicalityPrune(vs, "vec_id", "embedding",
      nClusters = 1, pruneFraction = 0.5, maxClusterSize = 2).collect()
    assert(guarded.length == 6 &&
      guarded.forall(r => r.isNullAt(3) && !r.getBoolean(4)))
  }

  test("ANN recall@5 >= 0.8 vs brute force (sf0.01)") {
    val q = sfEmb.where(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.get(0), r.get(1))).toSet
    val exact = hits(Similarity.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 5))
    assert(exact.size == 25)
    // This corpus is UNCLUSTERED (top-5 neighbors sit at ~0.45 cosine,
    // barely above random), so 0.8 recall needs probe-heavy settings — the
    // gate exists to catch bucketing/probing regressions, not to showcase
    // ANN speedups that unclustered data cannot support.
    val lsh = hits(Similarity.lshTopK(sfEmb, q, "vec_id", "embedding", 5,
      planes = 4, dim = 64, probeBits = 3))
    val ivf = hits(Similarity.ivfTopK(sfEmb, q, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 12))
    val lshR = lsh.intersect(exact).size.toDouble / exact.size
    val ivfR = ivf.intersect(exact).size.toDouble / exact.size
    withClue(s"lshTopK recall@5 = $lshR, ivfTopK recall@5 = $ivfR: ") {
      assert(lshR >= 0.8, s"lshTopK recall@5 = $lshR")
      assert(ivfR >= 0.8, s"ivfTopK recall@5 = $ivfR")
    }
  }

  test("SQ8 ANN: recall@5 beats PQ defaults; levels bounded; degenerate dim") {
    import graft.operators.Pq
    val q = sfEmb.where(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.get(0), r.get(1))).toSet
    val exact = hits(Similarity.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 5))
    val sq8 = hits(Pq.sq8TopK(sfEmb, q, "vec_id", "embedding", k = 5,
      dim = 64, rerankDepth = 50))
    val r = sq8.intersect(exact).size.toDouble / exact.size
    // 8-bit/dim keeps per-dimension resolution: near-lossless on this
    // corpus (PQ's 4-bit/subspace default gates at 0.8 on the same data)
    assert(r >= 0.95, s"sq8TopK recall@5 = $r")
    // bounds are tight on the normalized corpus: every level in [0,255],
    // and both extremes are REACHED (the min and max witness per dim)
    val (mn, mx) = Pq.sq8Bounds(sfEmb, "vec_id", "embedding", 64)
    assert(mn.length == 64 && mx.length == 64 && mn.zip(mx).forall(t => t._1 <= t._2))
    // degenerate dimension: a coordinate that is constant AFTER
    // normalization (identically zero) pins to level 0 and dequantizes
    // to its exact value, so scoring stays finite
    val const = Seq(
      (0L, Array(1f, 2f, 0f)), (1L, Array(2f, 1f, 0f)), (2L, Array(1f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Pq.sq8TopK(const, const.where(col("vec_id") === 0L), "vec_id",
      "embedding", k = 2, dim = 3, rerankDepth = 2).collect()
    assert(out.length == 2 && out.forall(r2 => !r2.getDouble(2).isNaN),
      s"degenerate-dim scores must be finite: ${out.mkString(",")}")
  }

  test("PQ ANN: recall@5 >= 0.8 vs brute force; codes bounded (sf0.01)") {
    import graft.operators.Pq
    val q = sfEmb.where(col("vec_id") < 20)
    def tops(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val exact = tops(Similarity.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 5))
    // this corpus is UNCLUSTERED (max pair cosine ~0.5): quantization
    // error is large relative to the cosine spread, so recall needs a
    // deep re-rank — rerankDepth is exactly the dial for that
    val pq = tops(Pq.pqTopK(sfEmb, q, "vec_id", "embedding", k = 5,
      m = 16, dim = 64, codebookSize = 16, rerankDepth = 150))
    val recalls = exact.keys.map(k =>
      (pq.getOrElse(k, Set.empty) intersect exact(k)).size.toDouble / exact(k).size)
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.8, s"PQ recall@5 $recall below 0.8")
    // encoding check with teeth: the distributed code of subspace 0 for
    // one vector must equal a driver-side replay of the argmax (wrong
    // slicing, argmax, or tiebreak would flip it)
    val cb = Pq.codebook(sfEmb, "vec_id", "embedding", 16, 64, 16)
    val codes = Pq.encode(sfEmb, "vec_id", "embedding", cb, 64)
    assert(codes.columns.length == 17) // id + 16 codes
    val v0 = sfEmb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val nrm = math.sqrt(v0.map(x => x * x).sum)
    val nv0 = v0.map(_ / nrm)
    for (j <- 0 until 16) {
      val subj = nv0.slice(j * 4, j * 4 + 4)
      val expected = cb(j).zipWithIndex.map { case (cw, code) =>
        val s = subj.zip(cw).map { case (a, b) => a * b }.sum -
          cw.map(x => x * x).sum / 2.0
        (-s, code)
      }.min._2
      val got = codes.where(col("id") === 0).select(s"c$j").collect()(0).getInt(0)
      assert(got == expected, s"subspace-$j code $got != driver replay $expected")
    }
  }

  test("IVF-PQ ANN: recall@5 >= 0.8 vs brute force (sf0.01)") {
    import graft.operators.Pq
    val q = sfEmb.where(col("vec_id") < 20)
    def tops(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val exact = tops(Similarity.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 5))
    // unclustered corpus: the two stages' misses MULTIPLY (IVF probe
    // misses × PQ quantization misses), so the gate needs dials above
    // either single-stage gate — nProbe=14 of 16 lists and a 300-deep
    // re-rank. Real clustered corpora sit far to the easy side of this.
    val ivfpq = tops(Pq.ivfPqTopK(sfEmb, q, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 14, m = 16, dim = 64, codebookSize = 16,
      rerankDepth = 300))
    val recalls = exact.keys.map(k =>
      (ivfpq.getOrElse(k, Set.empty) intersect exact(k)).size.toDouble / exact(k).size)
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.8, s"IVF-PQ recall@5 $recall below 0.8")
    // the list restriction has teeth: with ONE probed list out of 16 the
    // candidate pool shrinks to ~1/16 of the corpus, so recall must drop
    // strictly below the probe-heavy run on this unclustered data
    val oneProbe = tops(Pq.ivfPqTopK(sfEmb, q, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 1, m = 16, dim = 64, codebookSize = 16,
      rerankDepth = 300))
    val oneRecalls = exact.keys.map(k =>
      (oneProbe.getOrElse(k, Set.empty) intersect exact(k)).size.toDouble / exact(k).size)
    assert(oneRecalls.sum / oneRecalls.size < recall,
      "nProbe=1 should strictly reduce recall — is the ADC scan actually list-restricted?")
  }

  test("persisted IVF-PQ index: search == in-memory operator, scan prunes partitions") {
    import graft.operators.{IvfPqIndex, Pq}
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    val q = sfEmb.where(col("vec_id") < 10)
    IvfPqIndex.build(sfEmb, "vec_id", "embedding", dir, nCentroids = 16,
      m = 16, dim = 64, codebookSize = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
    // byte-identical results: same deterministic centroids/codebook/encode
    val fromIndex = IvfPqIndex.search(spark, dir, q, "vec_id", "embedding",
      k = 5, nProbe = 4, rerankDepth = 50, rerank = Some(sfEmb))
    val inMemory = Pq.ivfPqTopK(sfEmb, q, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, rerankDepth = 50)
    assert(rows(fromIndex) == rows(inMemory),
      "persisted-index search must equal the in-memory operator")
    // the probe manifest actually prunes: the codes scan carries a
    // NON-EMPTY centroid_id partition filter (every parquet scan prints
    // a "PartitionFilters:" header — only brackets with centroid_id
    // inside prove the pruning happened)
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*centroid_id""".r
      .findFirstIn(plan).isDefined,
      s"codes scan must push a non-empty probed-list partition filter:\n$plan")
    // and the filter skips most files: one query probes 4 of the 16 lists
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val single = IvfPqIndex.search(spark, dir, sfEmb.where(col("vec_id") === 0),
      "vec_id", "embedding", k = 5, nProbe = 4, rerankDepth = 50, rerank = Some(sfEmb))
    val codes = scans(single.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/codes"))).head
    val read = codes.relation.location.listFiles(codes.partitionFilters, Nil)
      .map(_.files.size).sum
    val total = codes.relation.location.listFiles(Nil, Nil).map(_.files.size).sum
    assert(read > 0 && read * 2 < total, s"read $read of $total codes files")
    // ADC-only mode (no raw-vector refetch): all 10 queries, 5 rows each
    // (a size assertion too — an empty result must not pass vacuously)
    val adcOnly = IvfPqIndex.search(spark, dir, q, "vec_id", "embedding",
      k = 5, nProbe = 16, rerank = None)
      .groupBy("query_id").count().collect()
    assert(adcOnly.length == 10 && adcOnly.forall(_.getLong(1) == 5L),
      s"expected 10 queries x 5 ADC rows, got ${adcOnly.length} groups")
  }

  test("IvfPqIndex.append: build+append == build on the union, pruning survives") {
    import graft.operators.{IvfPqIndex, Sampling, Similarity}
    // engineer the batch OUTSIDE both deterministic seed selections
    // (IVF centroids and PQ codebook are the smallest-md5-hash ids under
    // their salts): removing / re-appending such rows cannot change the
    // trained quantizer, so build(corpus)+append(batch) must be
    // ROW-IDENTICAL to build(corpus ∪ batch) — the frozen-quantizer
    // contract the scaladoc states
    val ivfSeeds = Similarity.sampleCentroids(sfEmb, "vec_id", "embedding", 16)
      .select("centroid_id").collect().map(_.getLong(0)).toSet
    val pqSeeds = sfEmb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v"))).where(col("nrm") > 0)
      .orderBy(Sampling.hash24(col("vec_id"), "pq").asc, col("vec_id").asc)
      .limit(16).select("vec_id").collect().map(_.getLong(0)).toSet
    val batchIds = sfEmb.select("vec_id").collect().map(_.getLong(0))
      .filterNot(ivfSeeds ++ pqSeeds).sorted.takeRight(8).toSeq
    assert(batchIds.size == 8)
    val corpus = sfEmb.where(!col("vec_id").isin(batchIds: _*))
    val batch = sfEmb.where(col("vec_id").isin(batchIds: _*))
    val incDir = java.nio.file.Files.createTempDirectory("ivfpq_inc").toString
    val fullDir = java.nio.file.Files.createTempDirectory("ivfpq_full").toString
    IvfPqIndex.build(corpus, "vec_id", "embedding", incDir, nCentroids = 16,
      m = 16, dim = 64, codebookSize = 16)
    IvfPqIndex.append(batch, "vec_id", "embedding", incDir)
    IvfPqIndex.build(sfEmb, "vec_id", "embedding", fullDir, nCentroids = 16,
      m = 16, dim = 64, codebookSize = 16)
    // storage-level equality: the whole codes table matches row for row
    // (implies every possible search over the two indexes matches)
    def codes(dir: String) = spark.read.parquet(s"$dir/codes")
      .collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("centroid_id"), r.getSeq[Int](r.fieldIndex("codes"))))
      .toSet
    val inc = codes(incDir)
    assert(inc == codes(fullDir), "append drifted from the union build")
    assert(batchIds.forall(b => inc.exists(_._1 == b)),
      "appended rows missing from the index")
    // search over the appended index still partition-prunes and equals
    // the union-built index's answers
    val q = sfEmb.where(col("vec_id") < 10)
    def rows(dir: String) = {
      val df = IvfPqIndex.search(spark, dir, q, "vec_id", "embedding",
        k = 5, nProbe = 4, rerankDepth = 50, rerank = Some(sfEmb))
      (df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet, df.queryExecution.executedPlan.toString)
    }
    val (incRows, incPlan) = rows(incDir)
    val (fullRows, _) = rows(fullDir)
    assert(incRows.nonEmpty && incRows == fullRows)
    assert("""PartitionFilters: \[[^\]]*centroid_id""".r
      .findFirstIn(incPlan).isDefined,
      s"post-append codes scan lost the probed-list partition filter:\n$incPlan")
  }

  test("IvfPqIndex.compact: appends fold back to ~one file per list, results fixed") {
    import graft.operators.IvfPqIndex
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_cpt").toString
    val base = sfEmb.where(col("vec_id") >= 100)
    IvfPqIndex.build(base, "vec_id", "embedding", dir, nCentroids = 16,
      m = 16, dim = 64, codebookSize = 16)
    // three small appends: each adds >= 1 file per touched list
    for (b <- 0 until 3)
      IvfPqIndex.append(
        sfEmb.where(col("vec_id") >= b * 30 && col("vec_id") < (b + 1) * 30),
        "vec_id", "embedding", dir)
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(dir, "codes"))
        .count(_.getName.endsWith(".parquet"))
    }
    val q = sfEmb.where(col("vec_id") < 10)
    def rows() = IvfPqIndex.search(spark, dir, q, "vec_id", "embedding",
        k = 5, nProbe = 4, rerankDepth = 50, rerank = Some(sfEmb))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val before = rows()
    val filesBefore = files()
    IvfPqIndex.compact(spark, dir)
    val filesAfter = files()
    assert(filesAfter < filesBefore,
      s"compact must shrink the layout: $filesBefore -> $filesAfter")
    assert(filesAfter <= 16, s"expected ~one file per list, got $filesAfter")
    assert(rows() == before, "compaction changed search results")
    assert(!new java.io.File(dir, "codes_compacting_root").exists() &&
      !new java.io.File(dir, "codes_old").exists(), "staging dirs left behind")
  }

  test("IvfPqIndex.delete: tombstoned ids never surface; compact drops their rows") {
    import graft.operators.IvfPqIndex
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_del").toString
    IvfPqIndex.build(sfEmb, "vec_id", "embedding", dir, nCentroids = 16,
      m = 16, dim = 64, codebookSize = 16)
    val q = sfEmb.where(col("vec_id") < 10)
    def rows() = IvfPqIndex.search(spark, dir, q, "vec_id", "embedding",
        k = 5, nProbe = 4, rerankDepth = 50, rerank = Some(sfEmb))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val before = rows()
    // take down two ids that are currently served results (the takedown
    // that MUST stop being served)
    val victims = before.map(_._2).take(2).toSeq
    IvfPqIndex.delete(victims.toDF("vec_id"), "vec_id", dir)
    val after = rows()
    assert(victims.forall(v => !after.exists(_._2 == v)),
      s"deleted ids still served: $victims in $after")
    // the freed slots refill: still k rows per query (tombstones drop
    // BEFORE top-k, not after)
    assert(after.groupBy(_._1).forall(_._2.size == 5))
    val codesBefore = spark.read.parquet(s"$dir/codes").count()
    IvfPqIndex.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/codes").count() == codesBefore - 2,
      "compact must physically drop exactly the tombstoned code rows")
    assert(!new java.io.File(dir, "tombstones").exists(),
      "tombstones must clear after compact")
    assert(rows() == after, "physical drop must not change served results")
  }

  test("StreamAnnServe: epoch == batch search; mid-stream delete serves next epoch") {
    import graft.operators.IvfPqIndex
    import graft.streaming.StreamAnnServe
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ann_serve").toString
    IvfPqIndex.build(sfEmb, "vec_id", "embedding", dir, nCentroids = 16,
      m = 16, dim = 64, codebookSize = 16)
    def batchSearch(ids: Seq[Long]) =
      IvfPqIndex.search(spark, dir,
          sfEmb.where(col("vec_id").isin(ids: _*)), "vec_id", "embedding",
          k = 3, nProbe = 8, rerankDepth = 20, rerank = Some(sfEmb))
        .select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val qrows = sfEmb.where(col("vec_id") < 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val byEpoch = scala.collection.mutable.Map[Long, Set[(Long, Long, Long)]]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamAnnServe.writer(mem.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir, k = 3, nProbe = 8, rerankDepth = 20,
        rerank = Some(sfEmb)) { (df, epoch) =>
        byEpoch.synchronized {
          byEpoch(epoch) = df.select("query_id", "neighbor_id", "rank")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .toSet
        }
      }.start()
    try {
      mem.addData(qrows.take(2).toSeq)
      q.processAllAvailable()
      val pre = batchSearch(Seq(0L, 1L))
      assert(byEpoch(0L) == pre, s"epoch 0 != batch: ${byEpoch(0L)} vs $pre")
      // takedown lands between epochs: tombstone query 0's top neighbor —
      // the NEXT epoch must serve without it, no restart
      val victim = pre.find(t => t._1 == 0L && t._3 == 1L).get._2
      IvfPqIndex.delete(Seq(victim).toDF("vec_id"), "vec_id", dir)
      mem.addData(qrows.toSeq) // re-send all four queries
      q.processAllAvailable()
      val post = batchSearch(Seq(0L, 1L, 2L, 3L))
      assert(byEpoch(1L) == post, "epoch 1 != post-delete batch")
      assert(!byEpoch(1L).exists(_._2 == victim),
        s"tombstoned id $victim must vanish from the next epoch")
      assert(byEpoch(1L).count(_._1 == 0L) == 3,
        "freed slot must refill to k rows")
    } finally q.stop()
  }

  test("persisted RESIDUAL index: search == in-memory operator, append stitches") {
    import graft.operators.{IvfPqIndex, Pq}
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_res").toString
    val q = sfEmb.where(col("vec_id") < 10)
    IvfPqIndex.build(sfEmb, "vec_id", "embedding", dir, nCentroids = 16,
      m = 16, dim = 64, codebookSize = 16, residual = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
    val fromIndex = IvfPqIndex.search(spark, dir, q, "vec_id", "embedding",
      k = 5, nProbe = 4, rerankDepth = 50, rerank = Some(sfEmb))
    val inMemory = Pq.ivfPqTopK(sfEmb, q, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, rerankDepth = 50, residual = true)
    assert(rows(fromIndex) == rows(inMemory),
      "persisted residual search must equal the in-memory residual operator")
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*centroid_id""".r
      .findFirstIn(plan).isDefined,
      s"residual codes scan must partition-prune:\n$plan")
    // append in residual mode: frozen quantizer, codes-table equality
    // against a fresh residual build on the same corpus (batch = last 8
    // rows re-encoded with the STORED per-list codebooks)
    val batch = sfEmb.orderBy(desc("vec_id")).limit(8)
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    val incDir = java.nio.file.Files.createTempDirectory("ivfpq_res_inc").toString
    IvfPqIndex.build(sfEmb.where(!col("vec_id").isin(batchIds.toSeq: _*)),
      "vec_id", "embedding", incDir, nCentroids = 16, m = 16, dim = 64,
      codebookSize = 16, residual = true)
    IvfPqIndex.append(batch, "vec_id", "embedding", incDir)
    // quantizer may differ from the full build's (batch not engineered
    // out of the seed sets here) — the CONTRACT is: appended rows are
    // present and searchable through the stored quantizer
    val after = IvfPqIndex.search(spark, incDir, q, "vec_id", "embedding",
      k = 5, nProbe = 16, rerank = None)
    assert(after.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5L))
    val codeIds = spark.read.parquet(s"$incDir/codes")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.subsetOf(codeIds), "appended rows missing from residual index")
  }

  test("hierarchical assignment: agreement + recall on clustered data") {
    import graft.operators.Similarity
    // 40 tight clusters around fixed gaussian centers (md5-uniform
    // noise) — the CLUSTERED regime two-level assignment exists for:
    // real embedding corpora cluster by topic/language; uniform-random
    // vectors (like the sf fixtures) have no super-structure to exploit
    // and two-level degrades toward probeSupers/nSup there (measured
    // and reported below, not asserted)
    val kC = 40; val dim = 64
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(kC, dim)(rnd.nextGaussian())
    def u01(salt: Int) =
      conv(substring(md5(concat_ws("|", col("id"), lit(salt))), 1, 6), 16, 10)
        .cast("double") / lit(8388607.5d) - 1.0d
    val clustered = spark.range(2000).select(col("id").as("vec_id"),
      array((0 until dim).map { d =>
        (element_at(typedlit(centers.map(_(d)).toSeq),
          (col("id") % kC).cast("int") + 1) + u01(1000 + d) * lit(0.05d))
          .cast("float")
      }: _*).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    clustered.count()
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"))
        .withColumn("cn", Similarity.norm(col("cv")))
        .where(col("cn") > 0)
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.select("neighbor_id", "centroid_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = Similarity.sampleCentroids(clustered, "vec_id", "embedding", 45)
    val exact = byId(Similarity.assignTo(prep(clustered), cents))
    val hier = byId(
      Similarity.assignToHierarchical(prep(clustered), cents, probeSupers = 2))
    assert(hier.keySet == exact.keySet, "every vector must still be assigned")
    val frac = exact.count { case (id, cid) => hier(id) == cid }
      .toDouble / exact.size
    info(f"clustered agreement with exact assignment: $frac%.3f (${exact.size} vectors)")
    assert(frac >= 0.9,
      f"on clustered data probeSupers=2 must recover exact assignments: $frac%.3f")
    // the unclustered sf corpus: reported for honesty, not asserted —
    // this is the regime the scaladoc says NOT to use two-level in
    val sfFrac = {
      val sc = Similarity.sampleCentroids(sfEmb, "vec_id", "embedding", 45)
      val e = byId(Similarity.assignTo(prep(sfEmb), sc))
      val h = byId(Similarity.assignToHierarchical(prep(sfEmb), sc, 2))
      e.count { case (id, cid) => h(id) == cid }.toDouble / e.size
    }
    info(f"unclustered (sf0.01) agreement: $sfFrac%.3f — the documented degradation")
    // end-to-end on the clustered table: ANN recall must hold
    val q = clustered.where(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactTop = hits(Similarity.bruteForceTopK(clustered, q, "vec_id",
      "embedding", 5))
    val ivfExact = hits(Similarity.ivfTopK(clustered, q, "vec_id", "embedding",
      5, nCentroids = 45, nProbe = 12)).intersect(exactTop).size
    val ivfHier = hits(Similarity.ivfTopK(clustered, q, "vec_id", "embedding",
      5, nCentroids = 45, nProbe = 12, hierarchicalAssign = true))
      .intersect(exactTop).size
    info(s"recall@5 vs exact: ivf exact-assign $ivfExact/25, two-level $ivfHier/25")
    assert(ivfHier >= ivfExact - 2,
      s"two-level assignment recall too far below exact: $ivfHier vs $ivfExact")
    // same flag on the composed IVF-PQ operator
    val pqHier = hits(graft.operators.Pq.ivfPqTopK(clustered, q, "vec_id",
      "embedding", 5, nCentroids = 45, nProbe = 12,
      hierarchicalAssign = true)).intersect(exactTop).size
    info(s"ivfPqTopK two-level recall@5: $pqHier/25")
    assert(pqHier >= ivfExact - 4,
      s"IVF-PQ with two-level assignment cratered: $pqHier vs $ivfExact")
    // the persisted index can build with two-level assignment too —
    // search is layout-agnostic (probes score whatever lists rows
    // landed in), so only recall can move, and it must hold
    val hierDir = java.nio.file.Files.createTempDirectory("ivfpq_hier").toString
    graft.operators.IvfPqIndex.build(clustered, "vec_id", "embedding",
      hierDir, nCentroids = 45, hierarchicalAssign = true)
    val idxHier = hits(graft.operators.IvfPqIndex.search(spark, hierDir, q,
      "vec_id", "embedding", k = 5, nProbe = 12, rerankDepth = 50,
      rerank = Some(clustered))).intersect(exactTop).size
    info(s"persisted index built with two-level assignment: recall@5 $idxHier/25")
    assert(idxHier >= ivfExact - 4,
      s"hier-built index recall cratered: $idxHier vs $ivfExact")
    // semanticDedup with two-level assignment: verbatim duplicates take
    // IDENTICAL assignment paths under any deterministic scheme, so
    // every twin must still co-locate and drop — same known answer as
    // the exact path, on the operator whose √n-rule clusters make exact
    // assignment the O(n^1.5·d) seam
    import graft.operators.Dedup
    val withTwins = clustered.union(
      clustered.select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
    def droppedIds(hier: Boolean) =
      Dedup.semanticDedup(withTwins, "vec_id", "embedding", minCosine = 0.99,
          nClusters = 45, hierarchicalAssign = hier)
        .where(col("dropped")).select("id").collect().map(_.getLong(0)).toSet
    val dExact = droppedIds(false)
    val dHier = droppedIds(true)
    // the GUARANTEED subset: every twin has an exact cosine-1.0 lower-id
    // partner in its own cluster under either scheme, so all 2000 must
    // drop in BOTH runs. The tight clusters also produce legitimate
    // non-twin drops at 0.99, and a borderline vector can land in a
    // different cluster under the two schemes — so full set equality is
    // NOT the contract; the symmetric difference is reported instead
    val twins = (10000L until 12000L).toSet
    assert(twins.subsetOf(dHier) && twins.subsetOf(dExact),
      s"every verbatim twin must drop under both schemes: " +
        s"hier misses ${(twins -- dHier).size}, exact misses ${(twins -- dExact).size}")
    info(s"dropped: exact ${dExact.size}, two-level ${dHier.size}, " +
      s"symmetric diff ${(dHier diff dExact).size + (dExact diff dHier).size}")
    clustered.unpersist()
  }

  test("hierarchical assignment sends the 3 verbatim copies of every " +
    "sf0.001 vector to one centroid") {
    import graft.operators.Similarity
    val emb3 = Scale.copies(graft.sources.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding"), "vec_id", 3)
    val c = emb3.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", Similarity.norm(col("cv"))).where(col("cn") > 0)
    val cents = Similarity.sampleCentroids(emb3, "vec_id", "embedding",
      Similarity.suggestedCentroids(1500L))
    val assigned = Similarity.assignToHierarchical(c, cents, probeSupers = 2)
      .select((col("neighbor_id") % Scale.Salt).as("base"), col("centroid_id"))
    assert(assigned.count() == c.count())
    assert(assigned.distinct().groupBy("base").count().where(col("count") > 1).isEmpty)
  }

  test("suggestedAssignMode: flat below the FLOP break-even, hierarchical beyond") {
    import graft.operators.Similarity
    // speedup model: exact = nlist dots/vector, two-level =
    // (1+probeSupers)·√nlist → enable at √nlist/(1+probeSupers) ≥ 4×.
    // The graded-fixture scale (≤ 142 lists) stays on the exact, oracled
    // path; √n-rule indexes over 1e8+ vectors flip to hierarchical.
    assert(!Similarity.suggestedAssignMode(16))
    assert(!Similarity.suggestedAssignMode(142))
    assert(Similarity.suggestedAssignMode(144)) // 16·(1+2)² exactly
    assert(Similarity.suggestedAssignMode(10000))
    assert(Similarity.suggestedAssignMode(31623)) // √(1e9) lists
    // more probed supers cost more → later break-even
    assert(!Similarity.suggestedAssignMode(144, probeSupers = 3))
    assert(Similarity.suggestedAssignMode(256, probeSupers = 3))
    // a caller demanding a bigger payoff waits longer
    assert(!Similarity.suggestedAssignMode(144, minSpeedup = 8.0))
    assert(Similarity.suggestedAssignMode(576, minSpeedup = 8.0))
    intercept[IllegalArgumentException](Similarity.suggestedAssignMode(0))
  }

  test("residual IVF-PQ beats the global codebook at equal code bytes (low-rank)") {
    import graft.operators.{Pq, Similarity}
    // the deterministic rank-8-plus-noise table from the PCA pay-off
    // smoke — real embedding corpora are low-rank-ish, which is exactly
    // where per-list residuals are much tighter than raw vectors
    val rank = 8; val dim = 64
    val rnd = new scala.util.Random(42)
    val w = Array.fill(rank, dim)(rnd.nextGaussian() / math.sqrt(rank.toDouble))
    def u01(salt: Int) = // md5-uniform in [-1, 1), deterministic per (id, salt)
      conv(substring(md5(concat_ws("|", col("id"), lit(salt))), 1, 6), 16, 10)
        .cast("double") / lit(8388607.5d) - 1.0d
    val lowRank = spark.range(2000).select(col("id").as("vec_id"),
      array((0 until dim).map { d =>
        val signal = (0 until rank).map(r => u01(r) * lit(w(r)(d))).reduce(_ + _)
        (signal + u01(1000 + d) * lit(0.05d)).cast("float")
      }: _*).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lowRank.count()
    val q = lowRank.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(lowRank, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    // nProbe = all lists and rerankDepth = k: coarse-probe recall and
    // re-rank rescue are both OFF, so the ADC ordering alone decides —
    // a pure equal-code-bytes quantizer comparison (m=16, k=16 both)
    def recall(residual: Boolean): Long =
      Pq.ivfPqTopK(lowRank, q, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 16, rerankDepth = 5, residual = residual)
        .select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id")).count()
    val global = recall(false)
    val res = recall(true)
    info(s"recall@5 vs exact: global codebook $global/25, residual $res/25")
    assert(res > global,
      s"residual codebooks must win at equal code bytes: residual $res <= global $global")
    lowRank.unpersist()
  }

  test("OPQ rotation beats plain PQ recall at equal code bytes (low-rank); " +
    "R is orthogonal; allocation is balanced") {
    import graft.operators.{Opq, Pq, Similarity}
    // same deterministic rank-8-plus-noise table as the residual test:
    // every raw 4-dim slice carries projections of all 8 factors, the
    // failure mode OPQ's decorrelate-and-balance rotation exists for
    val rank = 8; val dim = 64
    val rnd = new scala.util.Random(42)
    val w = Array.fill(rank, dim)(rnd.nextGaussian() / math.sqrt(rank.toDouble))
    def u01(salt: Int) =
      conv(substring(md5(concat_ws("|", col("id"), lit(salt))), 1, 6), 16, 10)
        .cast("double") / lit(8388607.5d) - 1.0d
    val lowRank = spark.range(2000).select(col("id").as("vec_id"),
      array((0 until dim).map { d =>
        val signal = (0 until rank).map(r => u01(r) * lit(w(r)(d))).reduce(_ + _)
        (signal + u01(1000 + d) * lit(0.05d)).cast("float")
      }: _*).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lowRank.count()
    val q = lowRank.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(lowRank, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    // rerankDepth = k: re-rank rescue OFF, the ADC ordering alone decides
    // — a pure equal-code-bytes quantizer comparison (m=8, cb=16 both:
    // 8-dim subspaces, where 16 codewords over correlated raw slices are
    // hopeless and the decorrelate-and-balance rotation shines; measured
    // 29 vs 55 of 100 — m=16's 4-dim slices leave a far thinner gap)
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id")).count()
    val plain = hits(Pq.pqTopK(lowRank, q, "vec_id", "embedding", k = 5,
      m = 8, dim = dim, codebookSize = 16, rerankDepth = 5))
    val opq = hits(Opq.opqPqTopK(lowRank, q, "vec_id", "embedding", k = 5,
      m = 8, dim = dim, codebookSize = 16, rerankDepth = 5))
    info(s"recall@5 vs exact: plain PQ $plain/100, OPQ $opq/100")
    assert(opq > plain + 10,
      s"OPQ must win decisively at equal code bytes: $opq vs $plain")
    // R is orthogonal: R·Rᵀ = I to machine precision — the invariant
    // that makes rotated cosine == original cosine (rank preservation)
    val r = Opq.rotationFromPca(lowRank, "embedding", dim, 16)
    assert(r.length == dim && r.forall(_.length == dim))
    for (i <- 0 until dim; j <- i until dim) {
      val dot = (0 until dim).map(t => r(i)(t) * r(j)(t)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"R·Rᵀ[$i][$j] = $dot")
    }
    // eigenvalue allocation: descending variances, balanced buckets
    val alloc = Opq.eigenAllocation(Array(8.0, 4.0, 2.0, 1.0), 2)
    assert(alloc.map(_.length).toSeq == Seq(2, 2))
    // 8 goes to bucket 0, 4 to bucket 1, then 2 joins the smaller
    // product (bucket 1: 4·2 = 8) and 1 fills bucket 0 (8·1 = 8)
    assert(alloc(0).toSeq == Seq(0, 3) && alloc(1).toSeq == Seq(1, 2),
      alloc.map(_.mkString(",")).mkString(" | "))
    lowRank.unpersist()
  }

  test("OPQ composes with IvfPqIndex: index over the rotated column " +
    "serves the rotated queries byte-identically to the in-memory run") {
    import graft.operators.{IvfPqIndex, Opq, Pq}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_opq_ivfpq").toString
    val r = Opq.rotationFromPca(sfEmb, "embedding", 64, 16)
    val rc = Opq.rotate(sfEmb, "embedding", r, "rot")
    val rq = Opq.rotate(sfEmb.where(col("vec_id") < 5), "embedding", r, "rot")
    IvfPqIndex.build(rc, "vec_id", "rot", dir, nCentroids = 16, m = 16,
      dim = 64, codebookSize = 16)
    val served = IvfPqIndex.search(spark, dir, rq, "vec_id", "rot", k = 5,
        nProbe = 4, rerankDepth = 50, rerank = Some(rc))
      .collect().map(_.toString).sorted
    val inMem = Pq.ivfPqTopK(rc, rq, "vec_id", "rot", k = 5,
        nCentroids = 16, nProbe = 4, m = 16, dim = 64, codebookSize = 16,
        rerankDepth = 50)
      .collect().map(_.toString).sorted
    assert(served.toSeq == inMem.toSeq,
      "persisted OPQ-rotated index must serve the in-memory results")
  }

  test("PQ codebookSize=256: constant-size plan encodes + searches (sf0.01)") {
    import graft.operators.Pq
    // the standard PQ byte code — the literal-unrolled formulation could
    // not codegen at this size (4,096 dot subtrees); the codec expression
    // binds the codebook as one reference array, so the plan is the same
    // three nodes as k=16
    val cb = Pq.codebook(sfEmb, "vec_id", "embedding", m = 16, dim = 64,
      codebookSize = 256)
    val codes = Pq.encodeCodes(sfEmb, "vec_id", "embedding", cb, dim = 64)
    val rows = codes.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val cs = r.getSeq[Int](r.fieldIndex("codes"))
      cs.length == 16 && cs.forall(c => c >= 0 && c < 256)
    })
    // driver replay of one full encoding at k=256 (argmin + tiebreak)
    val v0 = sfEmb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val nrm = math.sqrt(v0.map(x => x * x).sum)
    val nv0 = v0.map(_ / nrm)
    val expected = (0 until 16).map { j =>
      val subj = nv0.slice(j * 4, j * 4 + 4)
      cb(j).zipWithIndex.map { case (cw, code) =>
        val s = subj.zip(cw).map { case (a, b) => a * b }.sum -
          cw.map(x => x * x).sum / 2.0
        (-s, code)
      }.min._2
    }
    val got = codes.where(col("id") === 0).collect()(0).getSeq[Int](1)
    assert(got == expected, s"k=256 codes $got != driver replay $expected")
    // end-to-end search at k=256 still ranks correctly
    val out = Pq.pqTopK(sfEmb, sfEmb.where(col("vec_id") < 2), "vec_id",
      "embedding", k = 3, m = 16, dim = 64, codebookSize = 256,
      rerankDepth = 20)
    assert(out.groupBy("query_id").count().collect().forall(_.getLong(1) == 3L))
  }

  test("VectorDot: mismatched dimensions yield null, not a truncated dot") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0))
    ).toDF("a", "b")
      .select(graft.functions.VectorDot(col("a"), col("b")).as("d"))
      .collect()
    assert(df(0).getDouble(0) == 14.0)
    assert(df(1).isNullAt(0))
  }

  test("empty and degenerate inputs flow through every dedup/sim operator") {
    val noDocs = docs.where(lit(false))
    val noVecs = vecs.where(lit(false))
    assert(Dedup.exactGroups(noDocs, "doc_id", TextStats.fingerprint(col("text")))
      .count() == 0)
    assert(Dedup.jaccardPairs(noDocs, "doc_id", "text", 3, 0.0).count() == 0)
    assert(Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(noDocs, "doc_id", "text", 3, 64), 16, 4).count() == 0)
    assert(Dedup.simhashPairs(Dedup.simhash(noDocs, "doc_id", "text")).count() == 0)
    assert(Dedup.embeddingNearDups(noVecs, "vec_id", "embedding", 0.5,
      planes = 4, bands = 4, dim = 3).count() == 0)
    assert(Dedup.allPairsNearDups(noVecs, "vec_id", "embedding", 0.5).count() == 0)
    assert(Similarity.bruteForceTopK(vecs, noVecs, "vec_id", "embedding", 3)
      .count() == 0) // no queries
    assert(Similarity.bruteForceTopK(noVecs, vecs, "vec_id", "embedding", 3)
      .count() == 0) // no corpus
    assert(Similarity.ivfTopK(noVecs, noVecs, "vec_id", "embedding", 3).count() == 0)
    assert(Similarity.lshTopK(noVecs, vecs, "vec_id", "embedding", 3,
      planes = 4, dim = 3).count() == 0)
    assert(graft.operators.Sampling.capPerGroup(noDocs, "text", "doc_id", 5)
      .count() == 0)
    // k larger than the corpus: returns everything, ranks stay dense
    val all = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0),
      "vec_id", "embedding", k = 100).orderBy("rank").collect()
    assert(all.length == 3 && all.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    // docs shorter than the shingle width just vanish from shingle space
    val tiny = Seq((1L, "only two")).toDF("doc_id", "text")
    assert(Dedup.shingleHashRows(tiny, "doc_id", "text", 3).count() == 0)
    assert(Dedup.jaccardPairs(tiny, "doc_id", "text", 3, 0.0).count() == 0)
  }

  test("spherical k-means refinement: objective monotone, IVF stays correct") {
    import org.apache.spark.sql.DataFrame
    val c = sfEmb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    def objective(cents: DataFrame): Double =
      c.crossJoin(broadcast(cents))
        .select(col("id"), (Similarity.dot(col("v"), col("centroid")) /
          (col("nrm") * col("centroid_n"))).as("sim"))
        .groupBy("id").agg(max("sim").as("best"))
        .agg(sum("best")).collect()(0).getDouble(0)
    val init = Similarity.sampleCentroids(sfEmb, "vec_id", "embedding", 16)
    val r1 = Similarity.kmeansCentroids(sfEmb, "vec_id", "embedding", init, 1)
    val r2 = Similarity.kmeansCentroids(sfEmb, "vec_id", "embedding", init, 2)
    val (o0, o1, o2) = (objective(init), objective(r1), objective(r2))
    // Lloyd guarantees non-decrease only (a seed can sit at a fixed point)
    assert(o1 >= o0 - 1e-9, s"iteration 1 decreased objective: $o0 -> $o1")
    assert(o2 >= o1 - 1e-9, s"iteration 2 decreased objective: $o1 -> $o2")
    // end-to-end: refined centroids feed the same probe machinery
    val ivf = Similarity.ivfTopK(sfEmb, sfEmb.where(col("vec_id") < 5),
      "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 12,
      kmeansIters = 2)
    assert(ivf.count() == 25)
  }

  test("near-dup clusters: transitive closure over pairs, keeper = min id") {
    // two components: a diameter-3 chain 1-2-3-4 and a pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs).orderBy("keeper").collect()
    assert(clusters.length == 2)
    assert(clusters(0).getLong(0) == 1L && clusters(0).getLong(1) == 4L)
    assert(clusters(0).getSeq[Long](2) == Seq(1L, 2L, 3L, 4L))
    assert(clusters(1).getLong(0) == 10L && clusters(1).getLong(1) == 2L)
    // hitting the iteration cap fails loudly, never returns partial labels
    val longChain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.componentLabels(longChain, maxIters = 2).collect()
    }
    // empty pair set → no clusters, no convergence error
    assert(Dedup.nearDupClusters(pairs.where(lit(false))).count() == 0)

    // reliable (checkpoint-dir-backed) variant: identical clusters; the
    // blocks survive executor loss on a real cluster (dynamic allocation)
    intercept[IllegalArgumentException] { // loud without a checkpoint dir
      Dedup.componentLabels(pairs, reliable = true)
    }
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    try {
      val rel = Dedup.nearDupClusters(pairs, reliable = true)
        .orderBy("keeper").collect()
      assert(rel.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        clusters.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(ckptDir.toFile)
    }
  }

  test("embeddingNearDups fails loudly on embedding/hyperplane dim mismatch") {
    val bad = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", 0.5,
      planes = 4, bands = 4, dim = 8) // vectors are dim 3
    val e = intercept[Exception](bad.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("hyperplane dimension")))
  }

  test("lshCandidatePairs rejects bands*rowsPerBand != |sig|") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = 64)
    val bad = Dedup.lshCandidatePairs(sig, bands = 16, rowsPerBand = 8)
    val e = intercept[Exception](bad.collect())
    assert(e.getMessage.contains("bands*rowsPerBand") ||
      Option(e.getCause).exists(_.getMessage.contains("bands*rowsPerBand")))
  }

  test("IVF ANN: probed lists find the obvious neighbor") {
    val ivf = Similarity.ivfTopK(vecs, vecs.where($"vec_id" === 0), "vec_id",
      "embedding", k = 2, nCentroids = 2, nProbe = 2).collect()
    assert(ivf.exists(r => r.getAs[Long]("neighbor_id") == 1L))
    assert(ivf.forall(_.getAs[Double]("cosine") <= 1.000001))
  }

  test("LSH ANN: self-bucket finds the obvious neighbor") {
    val ann = Similarity.lshTopK(vecs, vecs.where($"vec_id" === 0), "vec_id",
      "embedding", k = 2, planes = 4, dim = 3).collect()
    assert(ann.exists(r => r.getAs[Long]("neighbor_id") == 1L))
  }

  test("binary-sign ANN: planted duplicate at Hamming 0; recall floor " +
    "on the unclustered corpus (sf0.01)") {
    import graft.operators.Pq
    // a sign-identical twin (positive scaling preserves every sign bit)
    // MUST surface: its Hamming distance is 0, so no candidate cut can
    // drop it, and exact re-rank puts it at rank 1 (cosine 1.0)
    val twin = sfEmb.where(col("vec_id") === 3L)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
        col("label"))
    val corpus = sfEmb.union(twin)
    val out = Pq.binarySignTopK(corpus, corpus.where(col("vec_id") === 3L),
      "vec_id", "embedding", k = 5, dim = 64, rerankDepth = 50)
    val top = out.where(col("rank") === 1L).collect()(0)
    assert(top.getAs[Long]("neighbor_id") == 10003L &&
      top.getAs[Double]("cosine") == 1.0, s"twin must rank 1: $top")
    // recall floor vs brute force: 64 sign bits + rerank 50 on a corpus
    // whose true neighbors sit at ~0.45 cosine (barely above random) —
    // the gate catches packing/scan regressions, not a showcase number
    val q = sfEmb.where(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.get(0), r.get(1))).toSet
    val exact = hits(Similarity.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 5))
    val ham = hits(Pq.binarySignTopK(sfEmb, q, "vec_id", "embedding",
      k = 5, dim = 64, rerankDepth = 50))
    val r = ham.intersect(exact).size.toDouble / exact.size
    assert(r >= 0.5, s"binarySignTopK recall@5 = $r")
  }

  test("matryoshka ANN: prefix twin survives the cut; recall floor " +
    "(sf0.01); zero-prefix rows leave the pool") {
    // a scaled twin scores prefix-cosine 1.0 (survives any cut) AND
    // full-cosine 1.0 (wins the re-rank); a PREFIX-NEGATED decoy is
    // invisible to the prefix scan no matter its tail — the truncation
    // semantics, pinned from both sides
    val twin = sfEmb.where(col("vec_id") === 3L)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
        col("label"))
    val decoy = sfEmb.where(col("vec_id") === 3L)
      .select((col("vec_id") + 20000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i < 16, -x).otherwise(x)).as("embedding"),
        col("label"))
    val corpus = sfEmb.union(twin).union(decoy)
    val out = Similarity.matryoshkaTopK(corpus,
      corpus.where(col("vec_id") === 3L), "vec_id", "embedding",
      k = 5, prefixDim = 16, rerankDepth = 50)
    val top = out.where(col("rank") === 1L).collect()(0)
    assert(top.getAs[Long]("neighbor_id") == 10003L &&
      top.getAs[Double]("cosine") == 1.0, s"twin must rank 1: $top")
    assert(out.where(col("neighbor_id") === 20003L).count() == 0,
      "prefix-negated decoy must never pass the prefix scan")
    // recall floor vs brute force (non-MRL embeddings: the prefix is a
    // lossy projection, rerankDepth carries the recall)
    val q = sfEmb.where(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.get(0), r.get(1))).toSet
    val exact = hits(Similarity.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 5))
    val mat = hits(Similarity.matryoshkaTopK(sfEmb, q, "vec_id", "embedding",
      k = 5, prefixDim = 16, rerankDepth = 50))
    val r = mat.intersect(exact).size.toDouble / exact.size
    assert(r >= 0.5, s"matryoshkaTopK recall@5 = $r")
    // a zero prefix with nonzero tail cannot be prefix-scored: the row
    // leaves the candidate pool instead of emitting NaN
    val zp = Seq(
      (0L, Array(1f, 0f, 1f, 1f)), (1L, Array(1f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 1f))  // zero 2-prefix
    ).toDF("vec_id", "embedding")
    val zout = Similarity.matryoshkaTopK(zp, zp.where(col("vec_id") === 0L),
      "vec_id", "embedding", k = 2, prefixDim = 2, rerankDepth = 2).collect()
    assert(zout.map(_.getAs[Long]("neighbor_id")).toSet == Set(1L) &&
      zout.forall(r2 => !r2.getAs[Double]("cosine").isNaN), s"${zout.toSeq}")
  }

  test("pageRank: hub outranks satellites, regular graphs stay uniform, " +
    "teleport floor holds") {
    import graft.operators.Graph
    // star: 0 — {1,2,3}; the hub collects three contributions per round
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val pr = Graph.pageRank(star, iters = 10).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("deg"), r.getAs[Double]("pr"))).toMap
    assert(pr(0L)._1 == 3L && pr(1L)._1 == 1L)
    assert(pr(0L)._2 > pr(1L)._2, s"hub must outrank satellites: $pr")
    assert(pr(1L) == pr(2L) && pr(2L) == pr(3L), s"leaves symmetric: $pr")
    assert(pr.values.forall(_._2 >= 0.15), s"teleport floor: $pr")
    // triangle (2-regular): uniform rank, fixed at ~1 (grid-rounded)
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("id_a", "id_b")
    val tpr = Graph.pageRank(tri, iters = 10).collect()
      .map(_.getAs[Double]("pr")).toSeq
    assert(tpr.distinct.size == 1, s"regular graph uniform: $tpr")
    assert(math.abs(tpr.head - 1.0) < 1e-7, s"$tpr")
  }

  test("pageRank early-exit: a grid fixed point exits at the block " +
    "boundary with the identical vector; asymmetric graphs run all " +
    "rounds; the boundary schedule is what the rounds count reports") {
    import graft.operators.Graph
    // triangle: 2-regular, fixed at the start vector -> converged by
    // round 1, detected at the first checkEvery=4 boundary
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("id_a", "id_b")
    val run = Graph.pageRankRun(tri, iters = 10)
    assert(run.rounds == 4, s"detect at the first boundary: ${run.rounds}")
    // result-identical to the unconditional 10 rounds (checkEvery > iters
    // never checks, so it IS the old fixed-iteration behavior)
    val full = Graph.pageRankRun(tri, iters = 10, checkEvery = 99)
    assert(full.rounds == 10)
    val a = run.ranks.orderBy("id").collect().map(_.toSeq).toSeq
    val b = full.ranks.orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, "early exit must be result-identical")
    // path a-b-c: asymmetric, contracts geometrically -> no exact grid
    // fixed point within 10 rounds; every round executes
    val path = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    assert(Graph.pageRankRun(path, iters = 10).rounds == 10)
    // per-round checking on the star detects the round-1 fixed point? the
    // star is NOT fixed at round 1 (hub gains mass) — but checkEvery=1
    // must still agree with the unconditional vector
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val s1 = Graph.pageRankRun(star, iters = 6, checkEvery = 1)
    val s2 = Graph.pageRankRun(star, iters = 6, checkEvery = 99)
    assert(s1.ranks.orderBy("id").collect().map(_.toSeq).toSeq ==
      s2.ranks.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("shingles, minhash LSH and closure over 3 verbatim copies of " +
    "sf0.001: copies add no shingles, every copy pair is a certain " +
    "candidate, each 1x pair appears once per copy pair, and the " +
    "components are the 1x ones plus one per 1x-isolated doc") {
    import Scale.{Replicated, Salt, holds}
    val docs1 = graft.sources.Tables.documents(spark, Sf0001)
      .select("doc_id", "text")
    val rows1 = Dedup.shingleHashRows(docs1, "doc_id", "text", n = 3)
    val rows3 = Dedup.shingleHashRows(Scale.copies(docs1, "doc_id", 3),
      "doc_id", "text", n = 3)
    assert(rows3.count() == 3 * rows1.count())
    assert(rows3.select("h").distinct().count() == rows1.select("h").distinct().count())
    def pairs(rows: org.apache.spark.sql.DataFrame) = Dedup.lshCandidatePairs(
        Dedup.minhashFromHashes(rows, k = 64), bands = 16, rowsPerBand = 4)
      .where(col("est_jaccard") >= 0.2).select("id_a", "id_b", "est_jaccard")
    val (p1, p3) = (pairs(rows1).localCheckpoint(), pairs(rows3).localCheckpoint())
    val shingled = rows1.select("id").distinct().count()
    val same = col("id_a") % Salt === col("id_b") % Salt
    assert(p3.where(same).count() == 3 * shingled, "C(3,2) copy pairs per shingled doc")
    assert(p3.where(same && col("est_jaccard") =!= 1.0).isEmpty)
    // copy i of a with copy j of b, for all 9 (i, j), in either id order
    val across = p3.where(!same)
      .select(least(col("id_a") % Salt, col("id_b") % Salt).as("id_a"),
        greatest(col("id_a") % Salt, col("id_b") % Salt).as("id_b"), col("est_jaccard"))
    val broke = holds(Replicated("id_a", "id_b"), 9, p1, across)
    assert(broke.isEmpty, broke)
    val labels1 = Dedup.componentLabels(p1.select("id_a", "id_b"))
    val labels3 = Dedup.componentLabels(p3.select("id_a", "id_b"))
    val (v1, c1) = (labels1.count(), labels1.select("label").distinct().count())
    assert(labels3.count() == 3 * shingled, "every shingled doc pairs with its copies")
    assert(labels3.select("label").distinct().count() == c1 + (shingled - v1))
  }

  test("pageRank: the checkpoint cadence keeps every job's lineage flat " +
    "as the iterations grow") {
    import graft.operators.Graph
    // a path never reaches a grid fixed point, so every round runs
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val s5 = maxStagesPerJob(Graph.pageRank(path, iters = 5).count())
    val s20 = maxStagesPerJob(Graph.pageRank(path, iters = 20).count())
    // each round adds at least one shuffle, so an uncut lineage would be
    // >= 15 stages deeper at 20 rounds than at 5
    assert(s20 <= s5 + 4, s"5 rounds: $s5 stages, 20 rounds: $s20")
  }

  test("componentLabels on STRING ids: collation-exact min labels, " +
    "including supplementary-plane code points where UTF-16 compareTo " +
    "diverges from UTF-8 binary order (r15 fast-path gate)") {
    // U+FFFF ("￿") encodes as EF BF BF; U+10000 ("𐀀")
    // as F0 90 80 80 — UTF-8 binary orders a￿ FIRST, while Java's
    // UTF-16 compareTo orders a𐀀 first (0xD800 < 0xFFFF). A
    // keeper chosen by Java String ordering would be "a𐀀" —
    // exactly the divergence this fixture pins.
    val bmp = "a￿"
    val supp = "a𐀀"
    val pairs = Seq((bmp, supp), (supp, "zz"), ("m1", "m2"))
      .toDF("id_a", "id_b")
    val labels = Dedup.componentLabels(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.size == 5)
    // Spark's own binary-collation min over the component {bmp, supp, zz}
    val sparkMin = spark.sql(
      s"SELECT least('${bmp}', '${supp}', 'zz')").head().getString(0)
    assert(sparkMin == bmp, "fixture sanity: UTF-8 orders the BMP char first")
    assert(labels(bmp) == bmp && labels(supp) == bmp && labels("zz") == bmp,
      s"collation-exact keeper expected $bmp: $labels")
    assert(labels("m1") == "m1" && labels("m2") == "m1")
    // roll-up stays definitionally identical
    val clusters = Dedup.nearDupClusters(pairs).orderBy("keeper").collect()
    assert(clusters.length == 2)
    assert(clusters.map(_.getString(0)).toSeq == Seq(bmp, "m1").sorted)
  }

  test("pageRankRun and componentLabels release every loop-pinned block " +
    "(r15: only the materialized OUTPUT may stay persisted)") {
    import graft.operators.Graph
    val sc = spark.sparkContext
    def persistedNow(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    // pageRankRun: the loop pins edgesPart + degRdd + boundary
    // checkpoints; after the call only the eagerly-materialized ranks
    // output (ONE localCheckpoint) may remain
    val before1 = persistedNow()
    val ranks = Graph.pageRankRun(pairs, iters = 8).ranks
    assert(ranks.count() == 6)
    val left1 = persistedNow() -- before1
    assert(left1.size <= 1,
      s"pageRankRun left ${left1.size} persisted RDDs beyond its output: " +
        left1.map(id => sc.getPersistentRDDs(id).toString).mkString("; "))
    // componentLabelsRddLong: edges + per-pass cuts released, only the
    // materialized labels output may remain
    val before2 = persistedNow()
    val labels = Dedup.componentLabels(pairs)
    assert(labels.count() == 6)
    val left2 = persistedNow() -- before2
    assert(left2.size <= 1,
      s"componentLabels left ${left2.size} persisted RDDs beyond its " +
        s"output: " +
        left2.map(id => sc.getPersistentRDDs(id).toString).mkString("; "))
  }

  test("exactDedupKeepBest: argmax-score keeper, min-id tiebreak, scopes") {
    val d = Seq(
      (1L, "a", "k1", 0.3), (2L, "a", "k1", 0.9), (3L, "b", "k1", 0.9),
      (4L, "b", "k2", 0.5)
    ).toDF("id", "src", "key", "score")
    // global: k1's best score 0.9 is tied between ids 2 and 3 → min id 2
    val g = Dedup.exactDedupKeepBest(d, "id", col("key"), col("score"))
      .collect().map(r => r.getAs[String]("dup_key") ->
        (r.getAs[Long]("keeper_id"), r.getAs[Double]("keeper_score"),
          r.getAs[Long]("n_copies"))).toMap
    assert(g == Map("k1" -> ((2L, 0.9, 3L)), "k2" -> ((4L, 0.5, 1L))), s"$g")
    // scoped by src: k1 keeps one copy PER source (2 in a, 3 in b)
    val s = Dedup.exactDedupKeepBest(d, "id", col("key"), col("score"),
        scopeCols = Seq("src"))
      .collect().map(r => (r.getAs[String]("src"), r.getAs[String]("dup_key"))
        -> r.getAs[Long]("keeper_id")).toMap
    assert(s == Map(("a", "k1") -> 2L, ("b", "k1") -> 3L, ("b", "k2") -> 4L),
      s"$s")
  }

  test("snapshotDiff: added/removed/changed/unchanged classified by " +
    "fingerprint, full-outer over ids") {
    val oldV = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "zeta eta theta")).toDF("doc_id", "text")
    val newV = Seq(
      (1L, "alpha beta gamma"),        // unchanged
      (2L, "delta epsilon REVISED"),   // changed
      (4L, "brand new doc")            // added; 3 removed
    ).toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(oldV, newV, "doc_id",
        TextStats.fingerprint(col("text")))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status"))
      .toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), s"$out")
    // punctuation-only edits are NOT changes (fingerprint normalizes)
    val punct = Seq((1L, "alpha, beta... gamma!")).toDF("doc_id", "text")
    val out2 = Dedup.snapshotDiff(
        oldV.where($"doc_id" === 1L), punct, "doc_id",
        TextStats.fingerprint(col("text"))).collect()
    assert(out2.head.getAs[String]("status") == "unchanged")
  }

  test("blockedEditJoin: exact distances within blocks, cross-block " +
    "pairs missed by design, oversized blocks dropped") {
    import graft.operators.Fuzzy
    val rows = Seq(
      (1L, "the quick brown fox", "B1"),
      (2L, "the quick browne fox", "B1"),   // dist 1 from #1
      (3L, "the quick crowns ox", "B1"),    // dist 3 from #1
      (4L, "totally different text", "B1"), // far: excluded by maxDist
      (5L, "the quick brown fox", "B2"),    // dup of #1, OTHER block
      (10L, "aaa", "HOT"), (11L, "aaa", "HOT"), (12L, "aaa", "HOT"),
      (13L, "aaa", "HOT"), (14L, "aaa", "HOT") // block of 5 > maxBlock 4
    ).toDF("id", "s", "blk")
    val out = Fuzzy.blockedEditJoin(rows, "id", col("s"), col("blk"),
        maxDist = 4, maxBlock = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("dist")).toMap
    // within-block pairs at their true distances; 4 is out of range,
    // 5 is invisible (other block), the HOT block never pairs
    assert(out == Map((1L, 2L) -> 1L, (1L, 3L) -> 3L, (2L, 3L) -> 3L),
      s"$out")
  }

  test("lengthBandEditJoin: EXACT recall on planted typo pairs (band " +
    "boundaries cannot split a true pair), exact precision, no dup pairs") {
    import graft.operators.Fuzzy
    // planted pairs straddle every band-boundary shape for maxDist=3
    // (w=3): same band, adjacent bands, and lengths right at the edge
    val rows = Seq(
      (1L, "ab"),        // len 2, band 0
      (2L, "abc"),       // len 3, band 1: dist(1,2)=1 crosses bands
      (3L, "abcd"),      // len 4, band 1: dist(2,3)=1 same band
      (4L, "abcdef"),    // len 6, band 2: dist(3,4)=2 crosses bands
      (10L, "zzzzzzzzzzzz"),   // len 12, band 4
      (11L, "zzzzzzzzzzzzyy"), // len 14, band 4: dist=2 same band
      (20L, "qqqq")      // len 4: dist to everything > 3
    ).toDF("id", "s")
    val out = Fuzzy.lengthBandEditJoin(rows, "id", col("s"), maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("dist")).toMap
    // every true pair (levenshtein <= 3) recalled exactly once
    val expected = Map(
      (1L, 2L) -> 1L, (1L, 3L) -> 2L, (2L, 3L) -> 1L, (2L, 4L) -> 3L,
      (3L, 4L) -> 2L, (10L, 11L) -> 2L)
    assert(out == expected, s"$out")
    // brute-force cross-check: the banded join finds EVERY pair the
    // all-pairs scan finds (recall 1.0 within maxDist)
    val brute = rows.as("a").join(rows.as("b"),
        col("a.id") < col("b.id") &&
          levenshtein(col("a.s"), col("b.s")) <= 3)
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.keySet == brute, s"banded=$out brute=$brute")
  }

  test("lengthBandEditJoin: collapsed length variance trips the loud " +
    "band-occupancy guard; onCollapse=drop restores the silent prune") {
    import graft.operators.Fuzzy
    // every string the same length → ALL rows land in two fat bands:
    // exact length-recall would silently vanish under the drop guard
    val flat = (0L until 12L).map(i => (i, f"s$i%010d")).toDF("id", "s")
    val boom = intercept[IllegalStateException] {
      Fuzzy.lengthBandEditJoin(flat, "id", col("s"), maxDist = 1,
        maxBlock = 10)
    }
    assert(boom.getMessage.contains("band collapse") &&
      boom.getMessage.contains("maxBlock=10"), boom.getMessage)
    // the explicit opt-out reproduces the old silent behavior: oversized
    // bands dropped, zero pairs
    assert(Fuzzy.lengthBandEditJoin(flat, "id", col("s"), maxDist = 1,
      maxBlock = 10, onCollapse = "drop").count() == 0)
    // a budget that fits the fat band passes the guard and finds the
    // true pairs (every adjacent pair here is dist 1 in the suffix)
    val out = Fuzzy.lengthBandEditJoin(flat, "id", col("s"), maxDist = 1,
      maxBlock = 24)
    assert(out.count() > 0)
    // spread lengths never trip the guard at the tiny budget
    val spread = (0L until 12L).map(i => (i, "a" * (3 * i.toInt + 1)))
      .toDF("id", "s")
    assert(Fuzzy.lengthBandEditJoin(spread, "id", col("s"), maxDist = 1,
      maxBlock = 10).count() == 0) // no close pairs, but no throw either
  }
}
