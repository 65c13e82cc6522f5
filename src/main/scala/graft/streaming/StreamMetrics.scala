package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{AppliedEpochs, IndexFiles, Metrics}

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
  * Delivery contract: appends are guarded by the `applied_epochs`
  * high-water mark (the [[StreamIndexDedup]] replay discipline, same
  * sidecar layout) AND every hist row carries its epoch stamp: a crash
  * BETWEEN the hist append and its marker write followed by a
  * foreachBatch replay re-appends that epoch's rows (the guard only
  * sees the missing marker), and the stamp makes those replays exact
  * duplicates that [[grade]] drops at read — idempotent wherever the
  * crash lands. [[compact]] folds the per-epoch shards into one merged
  * shard so a long-lived monitor's grade never becomes a 10k-file
  * scan. */
object StreamMetrics {

  /** The epoch stamp on rows produced by [[compact]] — never a real
    * foreachBatch epoch (those are ≥ 0). */
  val CompactedEpoch: Long = -1L

  /** The store's merged histogram: epoch-replay duplicates dropped
    * (exact duplicates by the stamp contract), then counts summed.
    *
    * Pre-stamp stores (written before the epoch column existed) read
    * fine: rows with no stamp get a UNIQUE negative placeholder (below
    * [[CompactedEpoch]], so it can never collide with a real epoch or a
    * compacted shard) — every legacy row is kept, exactly the old
    * merge-everything behavior, because a constant backfill would
    * wrongly collapse two legacy epochs that happened to share a score
    * row. The same placeholder covers a MIXED store (legacy files plus
    * stamped appends), where the legacy rows surface as nulls. Legacy
    * rows gain no replay protection retroactively — the old format
    * never had any to reconstruct. */
  private def mergedHist(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(s"$path/hist")
    val legacyStamp = lit(CompactedEpoch - 1L) - monotonically_increasing_id()
    val stamped =
      if (!raw.columns.contains("epoch")) raw.withColumn("epoch", legacyStamp)
      else raw.withColumn("epoch", coalesce(col("epoch"), legacyStamp))
    Metrics.mergeHistograms(
      stamped.dropDuplicates("epoch", "score")
        .select(col("score"), col("n_pos"), col("n_neg")))
  }

  /** Cumulative grade from the persisted histogram at `path`: ONE row
    * (n_pos, n_neg, auc, n, ece, mce) — the q_e5 grade shape. */
  def grade(spark: SparkSession, path: String, bins: Int = 10): DataFrame = {
    val hist = mergedHist(spark, path)
    Metrics.aucFromHistogram(hist)
      .crossJoin(broadcast(Metrics.eceFromHistogram(hist, bins)))
  }

  /** Fold the accumulated per-epoch histogram shards into ONE merged
    * shard (epoch stamp [[CompactedEpoch]]) via the staging-swap
    * discipline of [[graft.operators.DedupIndex.compact]] — the
    * lifecycle pass a long-lived monitor needs: after 10k epochs the
    * store is 10k small files and every [[grade]] re-merges them all;
    * after compact it is O(1) files bounded by the score grid.
    *
    * Pending epochs are SEALED first: any epoch stamped in the store but
    * above the `applied_epochs` high-water mark (a crash landed between
    * its hist append and its marker — the rows ARE in the store, the
    * hist append is one atomic write) is written to the marker sidecar
    * BEFORE the fold. Without the seal, folding that epoch's stamp into
    * [[CompactedEpoch]] would let its later foreachBatch replay
    * re-append under the real stamp — no longer a duplicate the read
    * can drop — and the epoch would double-count. Sealing first is
    * truthful and crash-safe: if compact dies after the seal, the store
    * is unchanged, the marker says the epoch applied (it did), and the
    * replay no-ops. With the seal, a replayed epoch after compaction
    * always no-ops at the marker guard. Same-grade before and after
    * (spec-pinned); not safe against a concurrent reader across the
    * swap instant — run in the store's write lane. */
  def compact(spark: SparkSession, path: String): Unit = {
    val hist = spark.read.parquet(s"$path/hist")
    if (hist.columns.contains("epoch"))
      AppliedEpochs.sealPending(spark, path,
        AppliedEpochs.maxStamp(hist, CompactedEpoch))
    val staged = s"$path/hist_compacting"
    mergedHist(spark, path)
      .withColumn("epoch", lit(CompactedEpoch))
      .coalesce(1)
      .write.mode("overwrite").parquet(staged)
    IndexFiles.swapIn(spark, s"$path/hist", staged)
  }

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
    * return the cumulative grade.
    *
    * `compactEvery` folds the store with [[compact]] every that-many
    * epochs at the boundary where this epoch's marker is already
    * written (so the seal step finds nothing pending in normal
    * operation) — the in-loop lifecycle a 10k-epoch monitor needs; a
    * crash between the marker and the compact defers the fold to the
    * next boundary. 0 = never (the default). */
  def processEpoch(batch: DataFrame, epoch: Long, scoreCol: Column,
                   labelCol: Column, path: String,
                   bins: Int = 10, compactEvery: Int = 0): DataFrame = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    val spark = batch.sparkSession
    if (!AppliedEpochs.applied(spark, path).exists(_ >= epoch)) {
      Metrics.scoreHistogram(batch, scoreCol, labelCol)
        .withColumn("epoch", lit(epoch))
        .write.mode("append").parquet(s"$path/hist")
      AppliedEpochs.record(spark, path, epoch)
      if (compactEvery > 0 && (epoch + 1) % compactEvery == 0)
        compact(spark, path)
    }
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
