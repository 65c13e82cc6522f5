package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.Store
import graft.operators.TextStats

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
  * Delivery contract: identical to [[StreamMetrics]] — one `hist` table
  * in a [[graft.Store]], fed through [[graft.Store.appendHistogram]], so
  * each epoch applies exactly once; [[compact]] folds the artifacts to
  * one. */
object StreamGate {

  /** Histogram shards merged: counts just add. */
  private def merge(hist: DataFrame): DataFrame =
    hist.groupBy("group", "score").agg(sum(col("c")).as("c"))

  /** The store merged to one (group, score, _c) histogram. */
  private def mergedHist(spark: SparkSession, path: String): DataFrame =
    merge(Store.latest(spark, path).read(spark, "hist"))
      .withColumnRenamed("c", "_c")

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
    * the store every that-many epochs (the [[StreamMetrics.processEpoch]]
    * lifecycle); 0 = never. */
  def processEpoch(batch: DataFrame, epoch: Long, groupCol: String,
                   scoreCol: Column, keepFraction: Double, path: String,
                   compactEvery: Int = 0): DataFrame = {
    Store.appendHistogram(batch.sparkSession, path, "hist", epoch,
      compactEvery)(
      batch.select(col(groupCol).as("group"), scoreCol.as("score"))
        .groupBy("group", "score").agg(count(lit(1)).as("c")))(merge)
    gate(batch, groupCol, scoreCol,
      thresholds(batch.sparkSession, path, keepFraction))
  }

  /** Fold the per-epoch artifacts into ONE; thresholds are unchanged. */
  def compact(spark: SparkSession, path: String): Unit =
    Store.compact(spark, path, "hist")(merge)

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
