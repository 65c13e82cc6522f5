package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Widen
import graft.sources.Tables

class PlansSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("NanosTimestampPushdown: ts range predicate reaches the parquet scan") {
    val df = Tables.events(spark, sf)
      .where(col("ts").between(lit("2024-01-10 00:00:00"), lit("2024-01-12 00:00:00")))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("GreaterThanOrEqual(ts,"),
      s"expected pushed ts lower bound in:\n$physical")
    assert(physical.contains("LessThanOrEqual(ts,"),
      s"expected pushed ts upper bound in:\n$physical")
  }

  test("pushdown rewrite preserves row set exactly") {
    val ev = Tables.events(spark, sf)
    val t0 = "2024-01-10 00:00:00"
    val t1 = "2024-01-12 00:00:00"
    val withRule = ev.where(col("ts").between(lit(t0), lit(t1))).count()
    // reference computation that the rule cannot touch: filter post-collect
    val expected = ev.select(col("ts").cast("timestamp")).collect()
      .map(_.getTimestamp(0))
      .count(t => !t.before(java.sql.Timestamp.valueOf(t0)) &&
        !t.after(java.sql.Timestamp.valueOf(t1)))
    assert(withRule == expected)
  }

  test("partitioned writes get partition pruning at read") {
    val out = java.nio.file.Files.createTempDirectory("parts").toString
    Tables.lineitem(spark, sf)
      .withColumn("ship_year", year(col("l_shipdate")))
      .write.mode("overwrite").partitionBy("ship_year").parquet(out)
    val pruned = spark.read.parquet(out).where(col("ship_year") === 1996)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(ship_year"), scan)
    // the scan's selected partitions collapse to the single matching dir
    val fsScan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .get
    assert(fsScan.relation.location.listFiles(fsScan.partitionFilters, Nil)
      .forall(_.files.forall(_.getPath.toString.contains("ship_year=1996"))))
    assert(pruned.count() ==
      Tables.lineitem(spark, sf).where(year(col("l_shipdate")) === 1996).count())
  }

  test("broadcast hint survives in join plans") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf).withColumnRenamed("c_custkey", "o_custkey")
    val plan = graft.operators.Merges.joinInfo(o, c, "o_custkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("similarity plans are window-free (no per-query sort funnel)") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.where(col("vec_id") < 3)
    val plans = Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
      "lshTopK" -> Similarity.lshTopK(e, q, "vec_id", "embedding", 5,
        planes = 6, dim = 64),
      "ivfTopK" -> Similarity.ivfTopK(e, q, "vec_id", "embedding", 5,
        nCentroids = 4, nProbe = 2))
    for ((name, df) <- plans) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Window"),
        s"$name plan contains a window operator:\n$plan")
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("as-of join plans as ONE keyed shuffle — no join operator at all") {
    import graft.operators.AsOf
    val ev = Tables.events(spark, sf)
    val left = ev.select(col("event_id"), col("event_type"), col("ts"))
    val marks = ev.where(col("event_id") % 100 < 5)
      .groupBy("event_type", "ts").agg(max("value").as("m_value"))
    val df = AsOf.asofJoinBackward(left, marks, Seq("event_type"), "ts", "ts",
      Seq("m_value"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"as-of must not plan a product:\n$plan")
    assert(df.count() > 0)
  }

  test("range join plans as an equi-join on (key, bin) — never a nested loop") {
    import graft.operators.AsOf
    val ev = Tables.events(spark, sf)
    val points = ev.select(col("event_id"), col("event_type"), col("ts"))
    val iv = ev.where(col("event_id") % 50 < 2)
      .select(col("event_id").as("iv_id"), col("event_type"),
        col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
    val df = AsOf.rangeJoin(points, iv, Seq("event_type"), "ts",
      "start_ts", "end_ts", Seq("iv_id"), binSeconds = 3600L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"range join must stay an equi-join:\n$plan")
    assert(df.count() > 0)
  }

  test("withWords is a real Generate boundary: one tokenizer per doc in plan") {
    import org.apache.spark.sql.functions._
    // the qT11 shape: 8-word segments sliced out of the words array —
    // without the boundary, CollapseProject inlines the regexp tokenizer
    // into the sequence bound and every slice lambda (~10 copies)
    val segmented = graft.operators.Dedup
      .withWords(Tables.documents(spark, sf), "text", "ws")
      .withColumn("lined", array_join(
        transform(
          sequence(lit(0),
            greatest(ceil(size(col("ws")) / lit(8.0d)).cast("int"), lit(1)) - 1),
          i => array_join(slice(col("ws"), i * 8 + 1, lit(8)), " ")),
        "\n"))
      .select("doc_id", "lined")
    val optimized = segmented.queryExecution.optimizedPlan.toString
    val n = "regexp_replace".r.findAllIn(optimized).size
    assert(n == 1, s"tokenizer must appear exactly once, found $n:\n$optimized")
  }

  test("projection pruning reaches parquet ReadSchema") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      scan)
  }

  test("residual IVF-PQ plan is window-free too (per-list seeds are k-bounded)") {
    import graft.operators.Pq
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.where(col("vec_id") < 3)
    val df = Pq.ivfPqTopK(e, q, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 2, residual = true)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"),
      s"residual plan contains a window operator:\n$plan")
    assert(df.count() > 0)
  }

  test("widen: a pre-partitioned corpus is NOT reshuffled by ivfPqTopK") {
    import graft.operators.Pq
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    // a many-file source stands in for the 100 TB corpus: thousands of
    // splits arrive already parallel, so the single-file-fixture widen
    // must pass it through instead of shuffling the fattest table
    val wideDir = java.nio.file.Files
      .createTempDirectory("graft_wide_emb").toString
    e.repartition(8).write.mode("overwrite").parquet(wideDir)
    val wide = spark.read.parquet(wideDir)
    assert(wide.rdd.getNumPartitions >= 4, "fixture must be multi-split")
    val q = e.where(col("vec_id") < 3)
    val widePlan = Pq.ivfPqTopK(wide, q, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 2).queryExecution.optimizedPlan.toString
    assert(!widePlan.contains("Repartition"),
      s"pre-partitioned corpus still reshuffled:\n$widePlan")
    // the single-file fixture still widens (one split would otherwise
    // run the whole encode/assignment stage one-task)
    val narrowPlan = Pq.ivfPqTopK(e, q, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 2).queryExecution.optimizedPlan.toString
    assert(narrowPlan.contains("Repartition"),
      s"narrow corpus not widened:\n$narrowPlan")
  }

  private def docScan = spark.read.parquet(s"$sf/documents.parquet")

  /** The old narrowness probe, kept here as the reference: it runs every
    * upstream shuffle stage under AQE, which is why `widen` reads the
    * plan instead. */
  private def narrowByRdd(df: DataFrame): Boolean =
    df.rdd.getNumPartitions < spark.sparkContext.defaultParallelism

  private def widened(df: DataFrame): Boolean = Widen.widen(df) ne df

  private def manyFiles(files: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    spark.read.parquet(s"$sf/embeddings.parquet").repartition(files)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("widen: no Spark job over an aggregate, a join or a cache") {
    val agg = docScan.groupBy("source").agg(count(lit(1)).as("n"))
    val joined = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
    val cached = docScan.select("doc_id", "text").cache()
    try {
      for ((name, df) <- Seq("aggregate" -> agg, "join" -> joined,
          "cache" -> cached)) {
        assert(jobsSubmitted(Widen.widen(df, col(df.columns.head))) == 0,
          s"widen over the $name ran a job")
        assert(jobsSubmitted(Widen.widen(df)) == 0,
          s"keyless widen over the $name ran a job")
        // the 1-split sources stay narrow through the aggregate, the join
        // and the cache, as the old probe judged them
        assert(widened(df), s"$name over 1-split sources not widened")
      }
    } finally { cached.unpersist(); () }
  }

  test("widen: decides as the partition probe does on scans, checkpoints " +
    "and unions") {
    val cases = Seq(
      "1-file scan" -> docScan,
      "8-file scan" -> manyFiles(8),
      "localCheckpoint" -> docScan.localCheckpoint(),
      "union of two 1-file scans" -> docScan.union(docScan))
    for ((name, df) <- cases)
      assert(widened(df) == narrowByRdd(df), s"decision differs on the $name")
    val byName = cases.toMap
    assert(widened(byName("1-file scan")))
    assert(!widened(byName("8-file scan")))
    assert(widened(byName("localCheckpoint")))
  }

  test("widen: an already-widened input is left alone; keys hash-partition") {
    val par = spark.sparkContext.defaultParallelism
    val once = Widen.widen(docScan)
    assert(once ne docScan)
    assert(Widen.widen(once) eq once)
    val keyed = Widen.widen(docScan, col("doc_id"))
    assert(keyed.queryExecution.optimizedPlan.toString
      .contains("RepartitionByExpression [doc_id"))
    assert(keyed.rdd.getNumPartitions == par)
    // a coalesce to one partition is narrow whatever sits below it
    assert(widened(manyFiles(8).coalesce(1)))
  }

  test("round-9 additions stay window-free where promised") {
    import graft.operators.{Dedup, Funnel, Sampling, TextStats}
    val docs = Tables.documents(spark, sf)
    val ev = Tables.events(spark, sf)
    val plans = Seq(
      // BoundedTopK cap, not a row_number window
      "capPerGroupByScore" -> Sampling.capPerGroupByScore(
        docs.select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id", TextStats.qualityScore(col("text")), 10),
      // keyed equi-joins + min aggregates only
      "funnel" -> Funnel.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")),
      "cohortRetention" -> Funnel.cohortRetention(ev, "user_id", "ts"),
      // two hash aggregates + word-keyed join
      "sourceDivergence" -> TextStats.sourceDivergence(docs, "source", "text"),
      // one max-struct hash aggregate
      "exactDedupKeepBest" -> Dedup.exactDedupKeepBest(docs, "doc_id",
        TextStats.fingerprint(col("text")), TextStats.qualityScore(col("text"))),
      // two percentile aggregates + broadcast joins
      "robustZScore" -> graft.operators.Anomaly.robustZScore(
        ev, "event_id", "event_type", "value"))
    for ((name, df) <- plans) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Window"),
        s"$name plan contains a window operator:\n$plan")
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("round-10 metrics/sampling: keyness, weightedSample, calibration " +
    "stay window-free; prCurve windows ONLY the score histogram") {
    import graft.operators.{Metrics, Sampling, TextStats}
    val docs = Tables.documents(spark, sf)
    val scored = docs.select(
      TextStats.hashedClassifierScore(col("text"), dim = 64).as("score"),
      (col("lang") === "en").cast("long").as("y"))
    val windowFree = Seq(
      // one (side, word) aggregate + word-keyed join + broadcast totals
      "keyness" -> TextStats.keyness(docs, "lang", "text", "en"),
      // BoundedTopK cap on the exponential key, not a row_number window
      "weightedSample" -> Sampling.weightedSample(docs, "lang", "doc_id",
        length(col("text")).cast("double"), k = 5),
      // ONE hash aggregate per bin; the ece fold adds a second
      "calibrationBins" -> Metrics.calibrationBins(scored, col("score"),
        col("y")),
      "ece" -> Metrics.ece(scored, col("score"), col("y")))
    for ((name, df) <- windowFree) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Window"),
        s"$name plan contains a window operator:\n$plan")
      assert(df.count() > 0, s"$name returned no rows")
    }
    // prCurve: every window sits above the (score) histogram aggregate —
    // cumulative TP/FP run over DISTINCT scores, never examples. Since
    // round 11 the histogram REGRIDS scores to the 1e-6 grid itself
    // (Metrics.scoreHistogram / the prCurve threshold aggregate), so the
    // windowed frame is structurally <= 1e6+1 rows for ANY caller — the
    // bound no longer depends on callers pre-rounding (MetricsSpec
    // feeds 10M raw doubles to pin it)
    val pr = Metrics.prCurve(scored, col("score"), col("y"))
    val prPlan = pr.queryExecution.optimizedPlan
    val windows = prPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty, "histogram cumulative window expected")
    assert(windows.forall(_.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty),
      s"every prCurve window must sit above the score histogram " +
        s"aggregate:\n$prPlan")
    assert(pr.count() > 0)
  }

  test("round-10 additions: windowed funnel stays window-free; " +
    "transitionStats windows ONLY the gap histogram") {
    import graft.operators.Funnel
    val ev = Tables.events(spark, sf)
    // the per-transition gap predicate must not change the plan class:
    // still keyed equi-joins + min aggregates, no window, no cartesian
    val winFunnel = Funnel.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"),
      maxGaps = Seq(Some("24 hours"), Some("48 hours")))
    val wfPlan = winFunnel.queryExecution.optimizedPlan.toString
    assert(!wfPlan.contains("Window"),
      s"windowed funnel grew a window operator:\n$wfPlan")
    assert(winFunnel.count() > 0)
    // transitionStats: the ONE window partitions by step over the
    // (second, count) histogram — its child aggregate keys on the
    // gridded second, so window input is histogram rows, never events
    val tsDf = Funnel.transitionStats(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
    val tsPlan = tsDf.queryExecution.optimizedPlan
    val windows = tsPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty, "histogram cum-count window expected")
    assert(windows.forall(_.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.size >= 3 => a
      }.nonEmpty),
      s"every window must sit above the (step, type, second) histogram " +
        s"aggregate:\n$tsPlan")
    assert(tsDf.count() > 0)
  }

  test("round-11 additions: cluster-balanced sample and length-band " +
    "fuzzy join stay window-free with broadcast-only small sides") {
    import graft.operators.{Fuzzy, Similarity}
    // clusterBalancedSample: ONE broadcast assignment aggregate + the
    // k-bounded reservoir — no window, no cartesian product, and the
    // centroid side reaches the join as a broadcast
    val e = Tables.embeddings(spark, sf)
    val bal = Similarity.clusterBalancedSample(e, "vec_id", "embedding",
      nCentroids = 8, perCluster = 5)
    val balPlan = bal.queryExecution.optimizedPlan.toString
    assert(!balPlan.contains("Window"),
      s"clusterBalancedSample grew a window:\n$balPlan")
    val balPhys = bal.queryExecution.executedPlan.toString
    assert(balPhys.contains("Broadcast"),
      s"centroid side must broadcast:\n$balPhys")
    assert(!balPhys.contains("CartesianProduct"),
      s"unexpected cartesian:\n$balPhys")
    assert(bal.count() > 0)
    // lengthBandEditJoin: equi-join on the band key (never a theta/
    // cartesian join), window-free, oversize guard via broadcast anti
    val docs = Tables.documents(spark, sf)
    val fz = Fuzzy.lengthBandEditJoin(docs.where(col("doc_id") % 10 < 2),
      "doc_id", substring(col("text"), 1, (20)), maxDist = 1)
    val fzPlan = fz.queryExecution.optimizedPlan.toString
    assert(!fzPlan.contains("Window"),
      s"lengthBandEditJoin grew a window:\n$fzPlan")
    assert(!fz.queryExecution.executedPlan.toString
        .contains("CartesianProduct"),
      s"banded join must be an equi-join:\n$fz")
  }

  test("round-12 additions: OPQ rotate is a pure map-side projection") {
    import graft.operators.Opq
    val e = Tables.embeddings(spark, sf)
    // the learned-rotation APPLY must add nothing to the plan but a
    // Project over the scan: no exchange, no window, no join — at 100 TB
    // the rotation rides the same pass that reads the vectors
    val ident = Array.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
    val rot = Opq.rotate(e, "embedding", ident, "rot")
    val phys = rot.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange") && !phys.contains("Window") &&
      !phys.contains("Join"),
      s"Opq.rotate must stay map-side:\n$phys")
    assert(rot.count() > 0)
  }

  test("round-14 additions: gate application is a broadcast join over the " +
    "corpus (never a shuffle of it); the soft-EM/prune E-steps are one " +
    "hash aggregate with no window, join, or cartesian") {
    import graft.operators.{TextStats, Unigram}
    val d = Tables.documents(spark, sf)
    // percentileGate's corpus-facing tail: the thresholds frame (one row
    // per group) must ride a BroadcastExchange; the corpus side must not
    // be shuffled for the gate itself (its only exchanges feed the
    // compressed histogram aggregate, not the gated output rows)
    val gated = TextStats.percentileGate(d, "lang",
      round(col("n_chars").cast("double"), 6), 0.5)
    val phys = gated.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastExchange"),
      s"thresholds must broadcast back:\n$phys")
    assert(!phys.contains("SortMergeJoin"),
      s"the gate join must never sort-merge the corpus:\n$phys")
    // the soft E-step aggregate: explode + hash aggregate, nothing else —
    // no window, no join, no cartesian anywhere in the plan
    val vocab = Seq("a" -> 0.5, "b" -> 0.5).toMap
    val estep = graft.operators.Bpe.wordHistogram(d, "text")
      .select(col("cnt"),
        explode(graft.functions.UnigramExpectedCounts(col("w"), vocab, 4))
          .as("e"))
      .groupBy("e.piece").agg(sum(col("cnt") * col("e.ec_micro")).as("c"))
    val ep = estep.queryExecution.executedPlan.toString
    assert(!ep.contains("Window") && !ep.contains("Join") &&
      !ep.contains("Cartesian"),
      s"the E-step must be a pure explode+aggregate:\n$ep")
    assert(ep.contains("HashAggregate"), s"map-side combinable:\n$ep")
    // and the prune-loss aggregate has the identical shape
    val lstep = graft.operators.Bpe.wordHistogram(d, "text")
      .select(col("cnt"),
        explode(graft.functions.UnigramPruneLoss(col("w"), vocab, 4))
          .as("e"))
      .groupBy("e.piece").agg(sum(col("cnt") * col("e.loss_micro")).as("c"))
    val lp = lstep.queryExecution.executedPlan.toString
    assert(!lp.contains("Window") && !lp.contains("Join") &&
      !lp.contains("Cartesian") && lp.contains("HashAggregate"),
      s"the prune-loss pass must be a pure explode+aggregate:\n$lp")
    assert(Unigram.trainSoft(d.limit(50), "text", vocabSize = 40,
      maxPieceLen = 3, emRounds = 1, minSeedCount = 2L).nonEmpty)
  }
}
