package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Hll
import graft.operators.Sampling

class HllSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("registerOf: bucket from top bits, rho from leading zeros of the rest") {
    // h = 1 → bucket 0, rem = 1 (47 leading zeros in the 48-bit window) → rho 48
    assert(Hll.registerOf(1L, 12) == (0, 48))
    // rem = 0 → rho = w + 1
    assert(Hll.registerOf(0L, 12) == (0, 49))
    // top 12 bits select the bucket
    val h = (5L << 48) | (1L << 47)
    assert(Hll.registerOf(h, 12) == (5, 1))
    // highest remainder bit set → one "leading-zero-free" draw → rho 1
    assert(Hll.registerOf((1L << 47) | 123L, 12) == (0, 1))
  }

  test("sketch aggregate == declarative distinctEstimate, exactly") {
    val keys = (0L until 5000L).map(i => s"key-$i").toDF("k")
      .select(Sampling.hash60(col("k")).as("h"))
    val regs = keys.agg(Hll.sketch(12)(col("h"))).collect()(0)
      .getAs[Array[Byte]](0)
    val aggEst = Hll.estimate(regs)
    val row = Hll.distinctEstimate(keys, col("h"), 12).collect()(0)
    val declEst = row.getAs[Double]("estimate")
    // identical fold-order contract → the doubles match before rounding
    assert(math.round(aggEst * 1e6).toDouble / 1e6 == declEst,
      s"agg $aggEst vs declarative $declEst")
    assert(row.getAs[Long]("n_exact") == 5000L)
    // 1.04/sqrt(4096) ~ 1.6% std error; 5% is a >3-sigma gate
    assert(math.abs(declEst - 5000.0) / 5000.0 < 0.05, s"est $declEst")
  }

  test("distinctEstimate stays within 5% past the small-range correction: " +
    "sf0.001's shingle vocabulary and its (doc, shingle) pairs") {
    // both key sets exceed 2.5 m = 10,240 distinct keys at p = 12, so the
    // raw harmonic-mean estimate answers, not linear counting
    val rows = graft.operators.Dedup.shingleHashRows(
      graft.sources.Tables.documents(spark, Sf0001),
      "doc_id", "text", n = 3)
    Seq("vocabulary" -> col("h"),
      "pairs" -> Sampling.hash60(concat_ws("|", col("id"), col("h")))).foreach {
      case (what, key) =>
        val r = Hll.distinctEstimate(rows, key, 12).collect()(0)
        val (n, est) = (r.getAs[Long]("n_exact"), r.getAs[Double]("estimate"))
        assert(n > 10240L, s"$what: only $n keys")
        assert(math.abs(est - n) / n < 0.05, s"$what: $n keys, estimate $est")
    }
  }

  test("registers merge by max: partial sketches union to the full sketch") {
    val a = (0L until 800L).map(i => s"k$i").toDF("k")
      .select(Sampling.hash60(col("k")).as("h"))
    val b = (400L until 1200L).map(i => s"k$i").toDF("k")
      .select(Sampling.hash60(col("k")).as("h"))
    def regsOf(df: org.apache.spark.sql.DataFrame) =
      df.agg(Hll.sketch(10)(col("h"))).collect()(0).getAs[Array[Byte]](0)
    val merged = new Hll.SketchAgg(10).merge(regsOf(a), regsOf(b))
    assert(merged.toSeq == regsOf(a.union(b)).toSeq)
  }

  test("unionSketchFrame: engine-side segment-register union == the " +
    "driver-side scalar union, registers byte-identical") {
    // four persisted per-segment sketches, two groups — the "millions
    // of segments" shape at toy size
    def regsOf(lo: Long, hi: Long) =
      (lo until hi).map(i => s"k$i").toDF("k")
        .select(Sampling.hash60(col("k")).as("h"))
        .agg(Hll.sketch(10)(col("h"))).collect()(0).getAs[Array[Byte]](0)
    val segs = Seq(
      ("web", "seg-a", regsOf(0L, 700L)),
      ("web", "seg-b", regsOf(400L, 1100L)),
      ("app", "seg-c", regsOf(0L, 300L)),
      ("app", "seg-d", regsOf(5000L, 5300L)))
    val df = segs.toDF("channel", "segment", "registers")
    val out = Hll.unionSketchFrame(df, Seq("channel"),
        col("registers"), p = 10)
      .collect().map(r => r.getAs[String]("channel") ->
        (r.getAs[Array[Byte]]("registers").toSeq,
          r.getAs[Double]("estimate"))).toMap
    def scalarUnion(a: Array[Byte], b: Array[Byte]) =
      new Hll.MergeAgg(10).merge(a.clone(), b.clone())
    val webRegs = scalarUnion(segs(0)._3, segs(1)._3)
    val appRegs = scalarUnion(segs(2)._3, segs(3)._3)
    assert(out("web")._1 == webRegs.toSeq, "web registers must match")
    assert(out("app")._1 == appRegs.toSeq, "app registers must match")
    assert(out("web")._2 ==
      math.round(Hll.estimate(webRegs) * 1e6).toDouble / 1e6)
    assert(out("app")._2 ==
      math.round(Hll.estimate(appRegs) * 1e6).toDouble / 1e6)
    // sanity: the estimates track the true cardinalities (1100 / 600)
    assert(math.abs(out("web")._2 - 1100.0) / 1100.0 < 0.1)
    assert(math.abs(out("app")._2 - 600.0) / 600.0 < 0.1)
  }

  test("pairwiseOverlap: segment matrix recovers overlap within sketch " +
    "error, agrees with the scalar estimates, pairs are seg_a < seg_b") {
    def regsOf(lo: Long, hi: Long) =
      (lo until hi).map(i => s"k$i").toDF("k")
        .select(Sampling.hash60(col("k")).as("h"))
        .agg(Hll.sketch(12)(col("h"))).collect()(0).getAs[Array[Byte]](0)
    val rA = regsOf(0L, 6000L)
    val rB = regsOf(4000L, 10000L)  // 2000 shared with A
    val rC = regsOf(50000L, 53000L) // disjoint from both
    val df = Seq(("a", rA), ("b", rB), ("c", rC)).toDF("seg", "registers")
    val out = Hll.pairwiseOverlap(df, "seg", col("registers"), p = 12)
      .collect().map(r => (r.getAs[String]("seg_a"), r.getAs[String]("seg_b"))
        -> r).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")),
      s"unordered pairs only: ${out.keySet}")
    val ab = out(("a", "b"))
    // matches the scalar path up to the 6-decimal output rounding
    assert(math.abs(ab.getAs[Double]("est_union")
      - Hll.unionEstimate(rA, rB)) < 1e-4)
    assert(math.abs(ab.getAs[Double]("est_intersection")
      - Hll.intersectionEstimate(rA, rB)) < 1e-4)
    // 2000-key overlap recovered within union-relative error
    assert(math.abs(ab.getAs[Double]("est_intersection") - 2000.0) < 500.0)
    val j = ab.getAs[Double]("jaccard")
    assert(j > 0.1 && j < 0.3, s"true J=0.2: $j")
    // disjoint pairs clamp near zero
    assert(out(("a", "c")).getAs[Double]("est_intersection") < 500.0)
    assert(out(("b", "c")).getAs[Double]("est_intersection") < 500.0)
    // the estimate kernels are codegen Expressions (round-11): no Scala
    // UDF anywhere in the plan — per-row closure dispatch would show up
    // when estimating millions of grouped sketches
    val plan = Hll.pairwiseOverlap(df, "seg", col("registers"), p = 12)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"UDF in pairwiseOverlap plan:\n$plan")
    // and the expression forms are BIT-identical to the scalar kernels
    // (same static method invoked), not merely close
    val exprRow = Seq((rA, rB)).toDF("ra", "rb").select(
        graft.functions.HllEstimate(col("ra")).as("ea"),
        graft.functions.HllUnionEstimate(col("ra"), col("rb")).as("eu"))
      .collect()(0)
    assert(exprRow.getAs[Double]("ea") == Hll.estimate(rA))
    assert(exprRow.getAs[Double]("eu") == Hll.unionEstimate(rA, rB))
  }

  test("HLL sketch aggregates over a stream (complete mode) == batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val sdf = mem.toDF()
      .select(Sampling.hash60(col("value").cast("string")).as("h"))
    val q = sdf.agg(Hll.sketch(10)(col("h")).as("regs"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    try {
      mem.addData(0L until 600L: _*)
      q.processAllAvailable()
      mem.addData(300L until 900L: _*) // overlap: distinct stays 900
      q.processAllAvailable()
      val streamed = spark.table("hll_out").collect()(0)
        .getAs[Array[Byte]](0)
      val batch = (0L until 900L).toDF("value")
        .select(Sampling.hash60(col("value").cast("string")).as("h"))
        .agg(Hll.sketch(10)(col("h"))).collect()(0).getAs[Array[Byte]](0)
      assert(streamed.toSeq == batch.toSeq)
      assert(math.abs(Hll.estimate(streamed) - 900.0) / 900.0 < 0.1)
    } finally q.stop()
  }

  test("union/intersection estimates: overlap recovered within sketch " +
    "error, disjoint sets intersect near zero") {
    def regsOf(lo: Long, hi: Long) =
      (lo until hi).map(i => s"k$i").toDF("k")
        .select(Sampling.hash60(col("k")).as("h"))
        .agg(Hll.sketch(12)(col("h"))).collect()(0).getAs[Array[Byte]](0)
    val a = regsOf(0L, 6000L)        // 6000 keys
    val b = regsOf(4000L, 10000L)    // 6000 keys, 2000 shared
    val u = Hll.unionEstimate(a, b)
    val i = Hll.intersectionEstimate(a, b)
    assert(math.abs(u - 10000.0) / 10000.0 < 0.05, s"union $u")
    // intersection error is relative to the union: grant 5% of 10000
    assert(math.abs(i - 2000.0) < 500.0, s"intersection $i")
    val d = regsOf(20000L, 26000L)   // disjoint from a
    assert(Hll.intersectionEstimate(a, d) < 500.0, "disjoint ~ 0 (clamped)")
  }

  test("distinctRollup (streaming) estimates == groupedDistinctEstimate " +
    "(batch), late in-watermark rows fold in") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val sdf = mem.toDF().toDF("ts", "key", "uid")
    val q = graft.streaming.DailyRollup
      .distinctRollup(sdf, "ts", "key", "uid", p = 6)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_roll").start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      mem.addData((0L until 120L).map(i =>
        (t("2024-01-01 10:00:00"), "a", i % 40)) ++
        Seq((t("2024-01-02 09:00:00"), "a", 1L)): _*)
      q.processAllAvailable()
      // late row, within the 2-day watermark: lands in the Jan-1 bucket
      mem.addData((t("2024-01-01 23:00:00"), "a", 999L))
      q.processAllAvailable()
      val rolled = spark.table("hll_roll").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[java.sql.Date]("date").toString)
          -> Hll.estimate(r.getAs[Array[Byte]]("regs"))).toMap
      val batchRows = ((0L until 120L).map(i =>
          (t("2024-01-01 10:00:00"), "a", i % 40)) ++
        Seq((t("2024-01-02 09:00:00"), "a", 1L),
          (t("2024-01-01 23:00:00"), "a", 999L)))
        .toDF("ts", "key", "uid")
        .select(col("key"), to_date(col("ts")).as("date"), col("uid"))
      val batch = Hll.groupedDistinctEstimate(batchRows, Seq("key", "date"),
          graft.operators.Sampling.hash60(col("uid").cast("string")), p = 6)
        .collect()
        .map(r => (r.getAs[String]("key"), r.getAs[java.sql.Date]("date").toString)
          -> r.getAs[Double]("estimate")).toMap
      assert(rolled.keySet == batch.keySet, s"$rolled vs $batch")
      // same fold-order contract: rounded estimates agree exactly
      rolled.foreach { case (k, est) =>
        assert(math.round(est * 1e6).toDouble / 1e6 == batch(k),
          s"$k: stream $est vs batch ${batch(k)}")
      }
    } finally q.stop()
  }
}
