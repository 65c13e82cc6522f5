package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.Store
import graft.functions.Md5Prefix
import graft.operators.Sampling

/** Streaming twin of DoReMi-lite domain reweighting
  * ([[Sampling.doremiWeights]], X125): a stream of scored examples
  * accumulates into a persisted per-(round, domain) statistics store —
  * (sum of gridded excess, sample count) under each round's salted
  * minibatch hash gate — and every epoch the caller gets the FULL
  * weight trajectory replayed over everything seen so far, identical
  * to running the batch operator on the accumulated corpus
  * (spec-asserted): the per-round λ is a pure function of (sm, n) and
  * integer sums are MERGEABLE, the same artifact-is-the-aggregate-state
  * discipline as [[StreamMetrics]]/[[StreamGate]].
  *
  * Why this shape: published DoReMi re-weights as training progresses —
  * a mixture monitor that updates while data streams in is the natural
  * serving form. State is bounded by (rounds + 1) × |domains| rows per
  * epoch, never by examples; the driver replay is |domains|-sized
  * arithmetic. A `round = 0` universe row per domain records domains
  * whose examples never passed any round's gate, so they renormalize
  * with λ = 0 exactly like the batch operator (which collects domains
  * from the full corpus, not the samples).
  *
  * Delivery contract: the [[StreamMetrics]] store discipline verbatim —
  * one `stats` table in a [[graft.Store]], fed through
  * [[graft.Store.appendHistogram]], so each epoch applies exactly once;
  * [[compact]] folds the artifacts to one. */
object StreamMixture {

  /** One epoch's per-(round, domain) statistics: ONE aggregate over the
    * batch (the round dimension is a ≤ `rounds`-way explode under the
    * per-round hash gate — each row lands in binomial(rounds,
    * sampleFrac) round groups), plus the round-0 universe rows. The
    * hash-gate string is byte-identical to the batch operator's
    * (`salt` + round appended), so a row is sampled for round t here
    * exactly when [[Sampling.doremiWeights]] would sample it. */
  private def epochStats(batch: DataFrame, domainCol: String, idCol: String,
                         excessCol: Column, rounds: Int, sampleFrac: Double,
                         salt: String): DataFrame = {
    val thresh = math.floor(sampleFrac * (1 << 24)).toLong
    val base = batch.select(col(domainCol).cast("string").as("domain"),
      col(idCol).cast("string").as("_id"),
      floor(greatest(excessCol, lit(0.0)) * lit(1e6) + lit(0.5))
        .cast("long").as("_em"))
    val gated = base
      .select(col("domain"), col("_em"),
        explode(sequence(lit(1), lit(rounds))).as("round"))
      .where(Md5Prefix(concat(col("_id"), lit("|" + salt),
          col("round").cast("string")), 6) < thresh)
      .groupBy("round", "domain")
      .agg(sum(col("_em")).as("sm"), count(lit(1)).as("n"))
    val universe = base.groupBy("domain")
      .agg(count(lit(1)).as("n"))
      .select(lit(0).as("round"), col("domain"), lit(0L).as("sm"), col("n"))
    gated.select(col("round").cast("int").as("round"), col("domain"),
        col("sm"), col("n"))
      .unionByName(universe)
  }

  /** Statistics shards merged: sums just add. */
  private def merge(stats: DataFrame): DataFrame =
    stats.groupBy("round", "domain")
      .agg(sum(col("sm")).as("sm"), sum(col("n")).as("n"))

  /** The store merged to one (round, domain, sm, n) frame. */
  private def mergedStats(spark: SparkSession, path: String): DataFrame =
    merge(Store.latest(spark, path).read(spark, "stats"))

  /** The cumulative trajectory from the store: (round, domain,
    * lambda_micro, weight_micro) for rounds 1..`rounds` — bit-identical
    * to [[Sampling.doremiWeights]] over the accumulated corpus. Pass
    * the SAME (rounds, eta, smoothing) the epochs were written with
    * (rounds may also be lower — a prefix replay). */
  def weights(spark: SparkSession, path: String, rounds: Int,
              eta: Double = 1.0, smoothing: Double = 0.01): DataFrame = {
    val merged = mergedStats(spark, path).collect()
    val domains = merged.filter(_.getInt(0) == 0).map(_.getString(1))
      .sorted.toSeq
    val stats = merged.filter(_.getInt(0) > 0)
      .map(r => (r.getInt(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    Sampling.doremiFromStats(spark, domains, stats, rounds, eta, smoothing)
  }

  /** One epoch: merge the batch's statistics into the store unless this
    * epoch already applied, then return the cumulative trajectory. */
  def processEpoch(batch: DataFrame, epoch: Long, domainCol: String,
                   idCol: String, excessCol: Column, rounds: Int,
                   path: String, eta: Double = 1.0, smoothing: Double = 0.01,
                   sampleFrac: Double = 0.3, salt: String = "doremi",
                   compactEvery: Int = 0): DataFrame = {
    require(rounds >= 1, s"rounds must be positive: $rounds")
    val spark = batch.sparkSession
    Store.appendHistogram(spark, path, "stats", epoch, compactEvery)(
      epochStats(batch, domainCol, idCol, excessCol, rounds, sampleFrac,
        salt))(merge)
    weights(spark, path, rounds, eta, smoothing)
  }

  /** Fold the per-epoch artifacts into ONE; the trajectory is
    * unchanged. */
  def compact(spark: SparkSession, path: String): Unit =
    Store.compact(spark, path, "stats")(merge)

  /** Wire a streaming frame into a `foreachBatch` writer that
    * accumulates the store at `path` and hands each epoch's cumulative
    * trajectory to `sink`. */
  def writer(scored: DataFrame, domainCol: String, idCol: String,
             excessCol: Column, rounds: Int, path: String,
             eta: Double = 1.0, smoothing: Double = 0.01,
             sampleFrac: Double = 0.3, salt: String = "doremi",
             compactEvery: Int = 0)
            (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    scored.writeStream.foreachBatch { (batch: Dataset[Row], epoch: Long) =>
      sink(processEpoch(batch.toDF(), epoch, domainCol, idCol, excessCol,
        rounds, path, eta, smoothing, sampleFrac, salt, compactEvery), epoch)
    }
}
