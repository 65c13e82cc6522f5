package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{AppliedEpochs, IndexFiles, TextStats}

/** Streaming twin of the rank-defined curation gates — the live face of
  * [[TextStats.percentileGate]] (X57) and [[TextStats.rankBuckets]]
  * (X65): a stream of scored rows accumulates into a persisted
  * (group, score, c) HISTOGRAM store, and every epoch the caller gets
  * per-group thresholds computed over EVERYTHING seen so far —
  * identical, row for row, to running the batch gate on the
  * accumulated corpus (spec-asserted), because the rank threshold is a
  * pure fold of the histogram and histogram counts are MERGEABLE (the
  * [[StreamMetrics]] store discipline — the artifact IS the aggregate
  * state).
  *
  * Scale shape: per epoch one map-side-combinable (group, score)
  * aggregate over the batch plus an append of ≤ |groups × score grid|
  * rows; the threshold fold reads the merged store — bounded by the
  * score grid, never by rows ever streamed — and gating any frame is a
  * broadcast join + map-side compare. Pass a GRID-ALIGNED score
  * (rounded 6 dp), exactly like the batch gates.
  *
  * Delivery contract: identical to [[StreamMetrics]] — appends are
  * guarded by the `applied_epochs` high-water mark AND every hist row
  * carries its epoch stamp, so a crash-replayed epoch re-appends exact
  * duplicates that the merged read drops; [[compact]] seals pending
  * epochs first and folds the shards to one. */
object StreamGate {

  /** The epoch stamp on rows produced by [[compact]] — never a real
    * foreachBatch epoch (those are ≥ 0). */
  val CompactedEpoch: Long = -1L

  /** The store merged to one (group, score, _c) histogram:
    * epoch-replay duplicates dropped (exact duplicates by the stamp
    * contract), then counts summed. */
  private def mergedHist(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/hist")
      .dropDuplicates("epoch", "group", "score")
      .groupBy("group", "score").agg(sum(col("c")).as("_c"))

  /** Cumulative per-group percentile cut from the store: one row per
    * group, (group, threshold) — [[TextStats.percentileGate]]'s exact
    * rank definition over everything streamed so far. */
  def thresholds(spark: SparkSession, path: String,
                 keepFraction: Double): DataFrame =
    TextStats.gateThresholdsFromHistogram(
      mergedHist(spark, path), "group", keepFraction)

  /** Cumulative per-group bucket cuts from the store —
    * [[TextStats.rankBuckets]]' thresholds: (group, _thr0.._thrN). */
  def bucketThresholds(spark: SparkSession, path: String,
                       fractions: Seq[Double],
                       ascending: Boolean = false): DataFrame =
    TextStats.bucketThresholdsFromHistogram(
      mergedHist(spark, path).where(col("score").isNotNull),
      "group", fractions, ascending)

  /** Gate ANY frame with store thresholds (map-side: broadcast join +
    * compare) — appends `score`, `threshold`, `kept`, the
    * [[TextStats.percentileGate]] output shape. */
  def gate(df: DataFrame, groupCol: String, scoreCol: Column,
           thr: DataFrame): DataFrame =
    TextStats.applyGate(df.withColumn("score", scoreCol), groupCol,
      thr.withColumnRenamed("group", groupCol))

  /** Bucket ANY frame with store cuts — appends `score` and `bucket`,
    * the [[TextStats.rankBuckets]] output shape. */
  def buckets(df: DataFrame, groupCol: String, scoreCol: Column,
              thrs: DataFrame, fractions: Seq[Double],
              ascending: Boolean = false): DataFrame =
    TextStats.assignBuckets(df.withColumn("score", scoreCol), groupCol,
      thrs.withColumnRenamed("group", groupCol), fractions, ascending)

  /** One epoch: merge the batch's (group, score) histogram into the
    * store unless this epoch already applied, then return the batch
    * GATED at the cumulative thresholds (threshold/kept computed over
    * all epochs seen so far, this one included). `compactEvery` folds
    * the store every that-many epochs at the marker-written boundary
    * (the [[StreamMetrics.processEpoch]] lifecycle); 0 = never. */
  def processEpoch(batch: DataFrame, epoch: Long, groupCol: String,
                   scoreCol: Column, keepFraction: Double, path: String,
                   compactEvery: Int = 0): DataFrame = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    val spark = batch.sparkSession
    if (!AppliedEpochs.applied(spark, path).exists(_ >= epoch)) {
      batch.select(col(groupCol).as("group"), scoreCol.as("score"))
        .groupBy("group", "score").agg(count(lit(1)).as("c"))
        .withColumn("epoch", lit(epoch))
        .write.mode("append").parquet(s"$path/hist")
      AppliedEpochs.record(spark, path, epoch)
      if (compactEvery > 0 && (epoch + 1) % compactEvery == 0)
        compact(spark, path)
    }
    gate(batch, groupCol, scoreCol, thresholds(spark, path, keepFraction))
  }

  /** Fold the per-epoch shards into ONE merged shard (epoch stamp
    * [[CompactedEpoch]]), sealing any pending epoch's marker first —
    * the [[StreamMetrics.compact]] crash discipline, verbatim: without
    * the seal, a replay of an epoch folded into the compacted stamp
    * would re-append as a non-duplicate and double-count. */
  def compact(spark: SparkSession, path: String): Unit = {
    val hist = spark.read.parquet(s"$path/hist")
    AppliedEpochs.sealPending(spark, path,
      AppliedEpochs.maxStamp(hist, CompactedEpoch))
    val staged = s"$path/hist_compacting"
    mergedHist(spark, path)
      .select(col("group"), col("score"), col("_c").as("c"),
        lit(CompactedEpoch).as("epoch"))
      .coalesce(1)
      .write.mode("overwrite").parquet(staged)
    IndexFiles.swapIn(spark, s"$path/hist", staged)
  }

  /** Wire a streaming frame of scored rows into a `foreachBatch` writer
    * that accumulates the histogram at `path` and hands each epoch's
    * gated batch to `sink`. Call `.start()` on the returned writer. */
  def writer(scored: DataFrame, groupCol: String, scoreCol: Column,
             keepFraction: Double, path: String, compactEvery: Int = 0)
            (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    scored.writeStream.foreachBatch { (batch: Dataset[Row], epoch: Long) =>
      sink(processEpoch(batch.toDF(), epoch, groupCol, scoreCol,
        keepFraction, path, compactEvery), epoch)
    }
}
