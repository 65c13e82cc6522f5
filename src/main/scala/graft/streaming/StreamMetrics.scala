package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.Store
import graft.operators.Metrics

/** Streaming model-quality monitor — the live twin of the batch
  * grade lane ([[graft.operators.Metrics]]): a stream of scored
  * examples (score, label) accumulates into a persisted
  * (score, n_pos, n_neg) HISTOGRAM, and every epoch the caller gets the
  * cumulative AUC + ECE/MCE graded from it. "Is the model drifting in
  * production" answered continuously, with the same arithmetic — and
  * therefore the same numbers — as the batch metrics over the same
  * examples (asserted stream==batch in the spec).
  *
  * Why a histogram store and not stream-native state: every metric in
  * `Metrics` folds from the score histogram, and histogram counts are
  * MERGEABLE (the HLL-registers discipline — the artifact is the
  * aggregate state). So per-epoch cost is one map-side-combinable
  * aggregate over the batch plus an append of ≤ |score grid| rows; the
  * grade is a read-side fold over the merged store, bounded by the
  * grid (≤ 1e6+1 rows for 6-dp scores) regardless of how many examples
  * ever streamed. The store is shared with batch callers —
  * [[grade]] works on any session, no stream running.
  *
  * Delivery contract: the store is a [[graft.Store]] with one table,
  * `hist`; each epoch's rows publish together with the epoch as applied
  * ([[graft.Store.appendHistogram]], the lane all three histogram stores
  * share), so a foreachBatch replay of an applied epoch is a no-op and a
  * crash leaves the epoch applied wholly or not at all. [[compact]]
  * folds the per-epoch artifacts into one, so a long-lived monitor's
  * grade never becomes a 10k-file scan. */
object StreamMetrics {

  private def mergedHist(spark: SparkSession, path: String): DataFrame =
    Metrics.mergeHistograms(Store.latest(spark, path).read(spark, "hist"))

  /** Cumulative grade from the persisted histogram at `path`: ONE row
    * (n_pos, n_neg, auc, n, ece, mce) — the q_e5 grade shape. */
  def grade(spark: SparkSession, path: String, bins: Int = 10): DataFrame = {
    val hist = mergedHist(spark, path)
    Metrics.aucFromHistogram(hist)
      .crossJoin(broadcast(Metrics.eceFromHistogram(hist, bins)))
  }

  /** Fold the accumulated per-epoch histogram artifacts into ONE — the
    * lifecycle pass a long-lived monitor needs: after 10k epochs the
    * store is 10k small files and every [[grade]] re-merges them all;
    * after compact it is one file bounded by the score grid. Same grade
    * before and after (spec-pinned). */
  def compact(spark: SparkSession, path: String): Unit =
    Store.compact(spark, path, "hist")(Metrics.mergeHistograms)

  /** PSI drift of the store at `path` against a FROZEN baseline store —
    * the X107 monitoring leg run entirely off persisted histograms: no
    * example re-scan, cost bounded by the score grid, callable from any
    * session with no stream running. "Has the score distribution moved
    * since the reference window" answered from two artifact reads. One
    * row: (n_ref, n_cur, psi). */
  def driftVsBaseline(spark: SparkSession, baselinePath: String,
                      path: String, bins: Int = 10): DataFrame =
    Metrics.psiFromHistograms(
      mergedHist(spark, baselinePath), mergedHist(spark, path), bins)

  /** One epoch of the monitor, callable directly (the
    * [[StreamIndexDedup.processEpoch]] convention): merge the batch's
    * histogram into the store unless this epoch already applied, then
    * return the cumulative grade. `compactEvery` folds the store with
    * [[compact]] every that-many epochs, right after the boundary epoch
    * applied — the in-loop lifecycle a 10k-epoch monitor needs. 0 =
    * never (the default). */
  def processEpoch(batch: DataFrame, epoch: Long, scoreCol: Column,
                   labelCol: Column, path: String,
                   bins: Int = 10, compactEvery: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    Store.appendHistogram(spark, path, "hist", epoch, compactEvery)(
      Metrics.scoreHistogram(batch, scoreCol, labelCol))(Metrics.mergeHistograms)
    grade(spark, path, bins)
  }

  /** Wire a streaming frame of scored examples into a `foreachBatch`
    * writer that accumulates the histogram at `path` and hands each
    * epoch's cumulative grade row to `sink`. Call `.start()` (or add
    * trigger/checkpoint options) on the returned writer. */
  def writer(scored: DataFrame, scoreCol: Column, labelCol: Column,
             path: String, bins: Int = 10, compactEvery: Int = 0)
            (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    scored.writeStream.foreachBatch { (batch: Dataset[Row], epoch: Long) =>
      sink(processEpoch(batch.toDF(), epoch, scoreCol, labelCol, path, bins,
        compactEvery), epoch)
    }
}
