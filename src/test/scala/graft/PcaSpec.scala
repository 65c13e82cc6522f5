package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pca, Pq, Similarity}

class PcaSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // 2-d data stretched along (1, 1): first component must align with it
  private lazy val stretched = Seq(
    (1L, Seq(1.0, 1.1)), (2L, Seq(2.0, 1.9)), (3L, Seq(-1.0, -0.9)),
    (4L, Seq(-2.0, -2.1)), (5L, Seq(0.5, 0.4)), (6L, Seq(-0.5, -0.6))
  ).toDF("id", "v")

  test("moments: n, sums, and gram match brute force; nulls skipped") {
    val withNull = stretched.union(Seq((7L, null.asInstanceOf[Seq[Double]]))
      .toDF("id", "v"))
    val (n, sums, gram) = Pca.moments(withNull, "v", 2)
    assert(n == 6)
    val data = stretched.collect().map(_.getSeq[Double](1))
    assert(math.abs(sums(0) - data.map(_(0)).sum) < 1e-12)
    assert(math.abs(sums(1) - data.map(_(1)).sum) < 1e-12)
    // upper triangle [g00, g01, g11]
    assert(math.abs(gram(0) - data.map(v => v(0) * v(0)).sum) < 1e-12)
    assert(math.abs(gram(1) - data.map(v => v(0) * v(1)).sum) < 1e-12)
    assert(math.abs(gram(2) - data.map(v => v(1) * v(1)).sum) < 1e-12)
  }

  test("moments fails loudly on a wrong-width vector") {
    val bad = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("id", "v")
    val e = intercept[Exception](Pca.moments(bad, "v", 2))
    assert(e.getMessage != null || e.getCause != null)
  }

  test("principal components: aligned, unit, descending, sign-canonical") {
    val (comps, vars) = Pca.principalComponents(stretched, "v", 2, 2)
    assert(vars(0) >= vars(1) && vars(1) >= -1e-12)
    comps.foreach { c =>
      assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-9, "unit norm")
    }
    assert(math.abs(comps(0)(0) * comps(1)(0) + comps(0)(1) * comps(1)(1)) < 1e-9,
      "orthogonal")
    // dominant direction ~ (1,1)/√2, sign-canonical → positive coords
    assert(math.abs(comps(0)(0) - math.sqrt(0.5)) < 0.05)
    assert(comps(0)(1) > 0)
  }

  test("jacobi solves C v = lambda v on the real 64-d covariance") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (comps, vars) = Pca.principalComponents(emb, "embedding", 64, 8)
    val (n, sums, gram) = Pca.moments(emb, "embedding", 64)
    val c = Array.ofDim[Double](64, 64)
    for (i <- 0 until 64; j <- i until 64) {
      val g = gram(i * 64 - i * (i - 1) / 2 + (j - i))
      val v = g / n - (sums(i) / n) * (sums(j) / n)
      c(i)(j) = v; c(j)(i) = v
    }
    comps.zip(vars).foreach { case (v, lambda) =>
      val cv = c.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val err = cv.zip(v).map { case (x, y) => math.abs(x - lambda * y) }.max
      assert(err < 1e-9, s"residual $err for lambda=$lambda")
    }
  }

  test("centered projection: residual variance equals discarded eigenvalue") {
    val model = Pca.fit(stretched, "v", 2, 1)
    val rows = Pca.projectCentered(stretched, "v", model).collect()
      .map(r => (r.getSeq[Double](1), r.getSeq[Double](2)))
    val n = rows.length
    val centeredSq = rows.map { case (v, _) =>
      v.zip(model.mean).map { case (x, m) => (x - m) * (x - m) }.sum
    }.sum / n
    val projSq = rows.map(_._2.map(x => x * x).sum).sum / n
    // E‖v−mean‖² − E‖proj‖² = Σ discarded eigenvalues — the guarantee
    // centering buys (and raw rotation does not, at nonzero mean)
    val discarded = model.totalVariance - model.variances.sum
    assert(math.abs((centeredSq - projSq) - discarded) < 1e-9)
  }

  test("project: k coords, map-side plan, full-rank preserves dots") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (comps, _) = Pca.principalComponents(emb, "embedding", 64, 64)
    val proj = Pca.project(emb, "embedding", comps)
    assert(proj.head().getSeq[Double](proj.columns.indexOf("projected")).size == 64)
    assert(!proj.queryExecution.executedPlan.toString.contains("Exchange"),
      "projection must be map-side")
    // full-rank rotation preserves inner products
    val pair = proj.limit(2).collect().map(r =>
      (r.getSeq[Float](1).map(_.toDouble), r.getSeq[Double](3)))
    val origDot = pair(0)._1.zip(pair(1)._1).map { case (a, b) => a * b }.sum
    val projDot = pair(0)._2.zip(pair(1)._2).map { case (a, b) => a * b }.sum
    assert(math.abs(origDot - projDot) < 1e-6)
  }

  test("PCA 64 -> 16 then IVF-PQ: on low-rank data the projected byte-code " +
    "layout matches the full-dim default's recall@5; on the near-isotropic " +
    "sf0.001 vectors (3 verbatim copies) every query still finds its copies") {
    import org.apache.spark.sql.DataFrame
    def pairs(df: DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def queries(df: DataFrame) = df.where(col("vec_id") < 5)
    def projected(df: DataFrame): DataFrame = {
      val model = Pca.fit(df, "embedding", 64, 16)
      Pca.project(df, "embedding", model.components, "p")
        .select(col("vec_id"), col("p").as("embedding")).localCheckpoint()
    }
    // rank-8 signal through a fixed gaussian 8x64 mix, plus 0.05 noise:
    // top-16 PCA keeps nearly all variance
    val (rank, dim, nVec) = (8, 64, 4000L)
    val rnd = new scala.util.Random(42)
    val w = Array.fill(rank, dim)(rnd.nextGaussian() / math.sqrt(rank.toDouble))
    def u01(salt: Int) = // md5-uniform in [-1, 1), deterministic per (id, salt)
      conv(substring(md5(concat_ws("|", col("id"), lit(salt))), 1, 6), 16, 10)
        .cast("double") / lit(8388607.5d) - 1.0d
    val lowRank = spark.range(nVec).select(col("id").as("vec_id"),
        array((0 until dim).map { d =>
          ((0 until rank).map(r => u01(r) * lit(w(r)(d))).reduce(_ + _) +
            u01(1000 + d) * lit(0.05d)).cast("float")
        }: _*).as("embedding"))
      .localCheckpoint()
    val (nlist, nprobe) = (Similarity.suggestedCentroids(nVec), Similarity.suggestedCentroids(nVec) / 4)
    val exact = pairs(Similarity.bruteForceTopK(lowRank, queries(lowRank), "vec_id",
      "embedding", k = 5))
    val fullDefault = (pairs(Pq.ivfPqTopK(lowRank, queries(lowRank), "vec_id",
      "embedding", k = 5, nCentroids = nlist, nProbe = nprobe)) intersect exact).size
    val proj = projected(lowRank)
    // PCA puts the variance in the leading PQ subvectors, so the
    // projected layout needs byte codes; re-rank depth 200 in 16-d costs
    // what depth 50 costs in 64-d
    val projRecall = (pairs(Pq.ivfPqTopK(proj, queries(proj), "vec_id",
      "embedding", k = 5, nCentroids = nlist, nProbe = nprobe, m = 4, dim = 16,
      codebookSize = 256, rerankDepth = 200)) intersect exact).size
    assert(projRecall >= 18 && projRecall >= fullDefault - 2,
      s"projected $projRecall/25, full-dim default $fullDefault/25")
    // near-isotropic vectors lose their other neighbors to the projection,
    // but identical vectors stay identical and share a list: every
    // query's two copies (cosine 1.0) are in its top 5
    val iso = Scale.copies(graft.sources.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding"), "vec_id", 3).localCheckpoint()
    val isoNlist = Similarity.suggestedCentroids(iso.count())
    val isoProj = projected(iso)
    val found = pairs(Pq.ivfPqTopK(isoProj, queries(isoProj), "vec_id", "embedding",
      k = 5, nCentroids = isoNlist, nProbe = isoNlist / 4, m = 4, dim = 16))
    val copies = for (q <- 0L until 5L; i <- 1 to 2) yield (q, q + i * Scale.Salt)
    assert(copies.forall(found), s"missing copies: ${copies.filterNot(found)}")
  }
}
